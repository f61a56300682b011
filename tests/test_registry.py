"""Registry contract: ``__spark_entry__`` exposes every registered query
once, in registration order, and every oracle twin alongside it."""

from __future__ import annotations

import __spark_entry__ as E
from parallel_mapreduce_spark.registry import QUERIES, _load_all


def test_entry_maps_follow_registration_order():
    _load_all()
    qs = E.queries()
    assert list(qs) == list(QUERIES)
    assert all(qs[n] is s.fn for n, s in QUERIES.items())
    assert list(E.oracle_sql()) == [n for n, s in QUERIES.items() if s.oracle]


def test_cli_list_and_run(capsys, spark):
    """The __main__ CLI lists the full registry and runs a query end-to-end
    against the same session-cached scan layer."""
    from parallel_mapreduce_spark.__main__ import main
    from parallel_mapreduce_spark.registry import QUERIES

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert len([l for l in out.splitlines() if l.strip()]) == len(QUERIES)
    assert main(["run", "wordcount", "--sf-dir", "/root/testdata/sf0.001",
                 "--limit", "3", "--json"]) == 0
    lines = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")]
    assert len(lines) == 3
    assert main(["run", "no_such_query"]) == 2


def test_oracle_timestamps_never_compare_fractional_epochs():
    """Regression guard for the sub-second granularity bug class: engine
    plans compare event times via unix_timestamp (whole seconds), so any
    oracle using epoch(ts) must truncate first (date_trunc/floor) — a raw
    fractional epoch can resolve orderings the engine cannot see. The two
    intentional exceptions (date_diff arithmetic, window-start epochs on
    already-truncated values) don't use the bare pattern."""
    import re

    from parallel_mapreduce_spark.registry import QUERIES, _load_all

    _load_all()
    # Any epoch(...) applied to the raw event-time column — bare, qualified
    # (epoch(e.ts)) or over an aggregate of it (epoch(MIN(ts))) — yields a
    # fractional-second DOUBLE in DuckDB while the engine compares whole
    # seconds; it must be floor()ed or fed a date_trunc'd value.
    bare = re.compile(r"epoch\(\s*(?:\w+\.)?(?:MIN\(|MAX\()?\s*(?:\w+\.)?ts\s*\)?", re.I)
    guarded = re.compile(
        r"(floor\s*\(\s*epoch\(|epoch\(\s*date_trunc)", re.I
    )
    offenders = []
    for name, spec in QUERIES.items():
        if not spec.oracle:
            continue
        for line in spec.oracle.splitlines():
            if bare.search(line) and not guarded.search(line):
                offenders.append((name, line.strip()))
    assert not offenders, offenders


def test_oracle_window_orderings_truncate_event_time():
    """Companion guard for ORDERINGS: a window ORDER BY on the raw ts
    column compares parquet-native precision in DuckDB while the engine's
    decode is micro-truncated — if the testdata generator ever flips
    events.ts back to TIMESTAMP(NANOS) (it has flipped units between
    rounds), nanosecond-only ties would order differently. Oracles must
    order by CAST(ts AS TIMESTAMP) (micros; a no-op today) instead."""
    import re

    from parallel_mapreduce_spark.registry import QUERIES, _load_all

    _load_all()
    bad = re.compile(r"ORDER\s+BY\s+(?:\w+\.)?ts\b", re.I)
    offenders = []
    for name, spec in QUERIES.items():
        if not spec.oracle:
            continue
        for line in spec.oracle.splitlines():
            if bad.search(line):
                offenders.append((name, line.strip()))
    assert not offenders, offenders
