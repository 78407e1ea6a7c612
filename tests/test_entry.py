"""Smoke: the driver contract surface."""

from __future__ import annotations

import pathlib
import re

import __spark_entry__ as entrymod

README = pathlib.Path(__file__).resolve().parent.parent / "README.md"


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["n_name", "revenue"]


def test_every_query_has_callable():
    qs = entrymod.queries()
    assert len(qs) >= 25
    for name, fn in qs.items():
        assert callable(fn), name


def test_oracles_subset_of_queries(monkeypatch):
    """The exports are keyed by canonical registry name, and building them
    starts no process."""
    import subprocess

    from projet_pipeline_bigdata_org_spark.plans.registry import all_specs

    def no_subprocess(*args, **kwargs):
        raise AssertionError(f"queries()/oracle_sql() started a process: {args}")

    monkeypatch.setattr(subprocess, "run", no_subprocess)
    monkeypatch.setattr(subprocess, "Popen", no_subprocess)
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    specs = all_specs()
    assert list(qs) == sorted(specs)
    assert list(os_) == sorted(n for n, spec in specs.items() if spec.oracle is not None)
    assert set(os_) <= set(qs)


def test_one_builder_per_oracle():
    """Registered names with the same oracle text share one Spark builder:
    a second implementation of an already-certified result is a duplicate
    path that only the query name selects."""
    from projet_pipeline_bigdata_org_spark.plans.registry import all_specs

    by_oracle: dict[str, dict] = {}
    for name, spec in all_specs().items():
        if spec.oracle is not None:
            by_oracle.setdefault(spec.oracle, {}).setdefault(spec.fn, []).append(name)
    twins = [sorted(fns.values()) for fns in by_oracle.values() if len(fns) > 1]
    assert not twins, f"oracles served by more than one builder: {twins}"


def test_every_no_oracle_query_has_readme_rationale():
    """Hygiene sweep: every registry name either carries a DuckDB oracle or
    appears by name in README's "rows-only forever" rationale section, and
    every registry name a rationale bullet leads with (its text before the
    first " — ") has no oracle, so the oracle/no-oracle split can't
    silently drift in either direction."""
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    no_oracle = sorted(set(qs) - set(os_))
    text = README.read_text()
    m = re.search(
        r"### Why the remaining no-oracle queries are rows-only forever(.*?)\n## ",
        text,
        re.S,
    )
    assert m, "README no-oracle rationale section missing"
    section = m.group(1)
    undocumented = [n for n in no_oracle if f"`{n}`" not in section]
    assert not undocumented, f"no-oracle queries lacking README rationale: {undocumented}"
    heads = [
        " ".join(b.split()).split(" — ")[0]
        for b in re.split(r"^- ", section, flags=re.M)[1:]
    ]
    stale = [
        n
        for h in heads
        for n in re.findall(r"`([A-Za-z0-9_]+)`", h)
        if n in qs and n in os_
    ]
    assert not stale, f"README rows-only rationale names oracle-gated queries: {stale}"
