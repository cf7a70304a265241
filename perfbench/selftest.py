"""Tiny-scale self-test of the benchmark's own machinery (no Spark needed).

    python3 perfbench/selftest.py        # or: python3 -m pytest perfbench/selftest.py

Covers the generator's per-seed determinism, the tail-percentile rule, the
DuckDB oracles and the span self-time arithmetic.
"""

from __future__ import annotations

import json
import os
import random
import sys
import tempfile
from datetime import datetime

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import feedgen, oracle, stats  # noqa: E402
from perfbench.spans import Span, Tracer, covered, self_times  # noqa: E402


def test_schedule_is_a_function_of_the_seed():
    a = feedgen.schedule(7, 5.0, 1000)
    assert a == feedgen.schedule(7, 5.0, 1000)
    assert a != feedgen.schedule(8, 5.0, 1000)
    assert all(x[0] <= y[0] for x, y in zip(a, a[1:]))
    kinds = {k for _, k, _ in a}
    assert kinds <= {"edit", "create", "burst"} and "edit" in kinds
    created = [key for _, k, key in a if k == "create"]
    assert len(created) == len(set(created))
    assert all(int(key.rsplit("-", 1)[1]) > 1000 for key in created)


def test_render_issue_is_deterministic_and_counts_edges():
    i1, e1 = feedgen.render_issue("MY-PROJECT-12", 1_700_000_000_123, random.Random(3))
    i2, e2 = feedgen.render_issue("MY-PROJECT-12", 1_700_000_000_123, random.Random(3))
    assert (i1, e1) == (i2, e2)
    f = i1["fields"]
    assert f["project"]["key"] == "MY-PROJECT"
    assert f["updated"] == "2023-11-14T22:13:20.123Z"
    edges = (
        (f["customfield_12311140"] is not None) + (f["parent"] is not None)
        + len(f["subtasks"]) + len(f["issuelinks"])
    )
    assert e1 == edges


def test_stamps_strictly_increase():
    s = feedgen.Stamper()
    xs = [s() for _ in range(200)]
    assert all(b > a for a, b in zip(xs, xs[1:]))


def test_current_versions_keeps_the_newest_version_of_each_key():
    def issue(key, rev):
        return {"key": key, "fields": {"summary": rev}}

    pages = [
        feedgen.search_page([issue("A-1", "a1"), issue("B-1", "b1")]),
        feedgen.search_page([issue("A-1", "a2"), issue("C-1", "c1"), issue("C-1", "c2")]),
        feedgen.search_page([issue("B-1", "b2")]),
        feedgen.search_page([issue("D-1", "d1")]),
    ]
    got = [
        [(x["key"], x["fields"]["summary"]) for x in json.loads(p)["issues"]]
        for p in feedgen.current_versions(pages)
    ]
    assert got == [[("A-1", "a2"), ("C-1", "c2")], [("B-1", "b2")], [("D-1", "d1")]]
    assert json.loads(feedgen.current_versions(pages)[0])["total"] == 2


def test_tail_rule():
    assert stats.tail_percentile(39) is None
    assert stats.tail_percentile(40) == 75.0
    assert stats.tail_percentile(100) == 90.0
    assert stats.tail_percentile(200) == 95.0
    assert stats.tail_percentile(999) == 95.0
    assert stats.tail_percentile(1000) == 99.0
    xs = [float(i) for i in range(1, 101)]
    m = stats.median_and_tail(xs)
    assert m["p50"] == 50.5 and m["tail_pct"] == 90.0 and m["n"] == 100
    assert sum(1 for x in xs if x > m["tail"]) >= stats.MIN_BEYOND
    small = stats.median_and_tail([3.0, 1.0, 2.0])
    assert small["tail"] == 3.0 and small["tail_pct"] == 100.0


def test_self_time_subtracts_child_coverage():
    # parent [0, 10] with overlapping children [1, 4] and [3, 6] and one
    # child poking past the parent's end [9, 12]: covered = 5 + 1
    spans = [
        Span(0, "p", 0.0, None, None, end=10.0, children=[1, 2, 3]),
        Span(1, "a", 1.0, 0, None, end=4.0),
        Span(2, "b", 3.0, 0, None, end=6.0),
        Span(3, "c", 9.0, 0, None, end=12.0),
    ]
    st = self_times(spans)
    assert st[0] == 4.0 and st[1] == 3.0 and st[3] == 3.0
    assert covered([(0, 1), (2, 3), (2.5, 4)]) == 3.0


def test_tracer_nests_and_unwraps():
    class Mod:
        @staticmethod
        def outer(x):
            return Mod.inner(x) + 1

        @staticmethod
        def inner(x):
            return x * 2

    t = Tracer()
    orig = Mod.inner
    t.wrap(Mod, "outer", "outer")
    t.wrap(Mod, "inner", "inner", after=lambda r, a, k: t.add("inner.out", r))
    assert Mod.outer(3) == 7
    t.op = "warmup"
    Mod.inner(1)
    t.unwrap_all()
    assert Mod.inner is orig
    s = t.summary()
    # the warm-up call is recorded but left out of the totals
    assert len(t.spans) == 3 and len(t.measured()) == 2
    assert s["outer.calls"] == 1 and s["inner.calls"] == 1
    assert s["inner.out"] == 6
    outer, inner = t.spans[0], t.spans[1]
    assert inner.parent == outer.sid and outer.children == [inner.sid]
    assert s["outer.self_s"] <= s["outer.s"]


def test_expected_cdc_counts_commits_and_polls():
    events = [
        {"key": "PROJ-1", "page": 0, "stamp_ms": 10, "edges": 1},
        {"key": "PROJ-1", "page": 1, "stamp_ms": 20, "edges": 0},
        {"key": "PROJ-2", "page": 2, "stamp_ms": 30, "edges": 0},
        {"key": "MY-PROJECT-5", "page": 2, "stamp_ms": 40, "edges": 2},
    ]
    exp = oracle.expected_cdc(events, {0: 0, 1: 1, 2: 1})
    assert exp["last_updated_ms"] == {"PROJ-1": 20, "PROJ-2": 30, "MY-PROJECT-5": 40}
    assert exp["polls_per_key"] == {"PROJ-1": 2, "PROJ-2": 1, "MY-PROJECT-5": 1}
    # PROJ: 3 issue commits + 1 symlink commit (poll 0 only had edges)
    assert exp["commits"] == {"PROJ": 4, "MY-PROJECT": 2}
    assert exp["rows"] == 4


def test_jql_oracle_latest_wins():
    import pyarrow as pa
    import pyarrow.parquet as pq

    status = pa.struct([("name", pa.string()), ("category", pa.string())])
    user = pa.struct([("name", pa.string()), ("email", pa.string())])
    schema = pa.schema([
        ("key", pa.string()), ("summary", pa.string()), ("status", status),
        ("assignee", user), ("updated", pa.timestamp("us", tz="UTC")),
        ("priority", pa.string()), ("issuetype", pa.string()),
        ("epic_link", pa.string()), ("parent_issue", pa.string()),
    ])

    def row(key, summary, st, who, day, epic=None, parent=None):
        return {"key": key, "summary": summary, "status": {"name": st, "category": "x"},
                "assignee": {"name": who, "email": None} if who else None,
                "updated": datetime(2024, 1, day), "priority": "High", "issuetype": "Bug",
                "epic_link": epic, "parent_issue": parent}

    with tempfile.TemporaryDirectory() as d:
        part = os.path.join(d, "project_key=PROJ")
        os.makedirs(part)
        base = [row("PROJ-1", "alpha", "Done", "u1", 1, epic="PROJ-9"),
                row("PROJ-2", "beta", "To Do", None, 1),
                row("PROJ-3", "gamma", "To Do", "u1", 1, parent="PROJ-1")]
        delta = [row("PROJ-1", "alpha two", "In Progress", "u1", 5, epic="PROJ-9"),
                 row("PROJ-2", "beta", "Closed", None, 5)]
        pq.write_table(pa.Table.from_pylist(base, schema), os.path.join(part, "a.parquet"))
        pq.write_table(pa.Table.from_pylist(delta, schema), os.path.join(part, "b.parquet"))
        o = oracle.JqlOracle(d)
        try:
            assert sorted(o.keys("project-active-issues", {"project": "PROJ"})) == ["PROJ-1", "PROJ-3"]
            assert sorted(o.keys("epic-all-issues", {"epic": "PROJ-9"})) == ["PROJ-1", "PROJ-3"]
            assert o.keys("summary-text", {"project": "PROJ", "word": "two"}) == ["PROJ-1"]
            assert sorted(o.keys("assignee-status", {"assignee": "u1", "status": "To Do"})) == ["PROJ-3"]
            since = int((datetime(2024, 1, 3) - datetime(1970, 1, 1)).total_seconds() * 1000)
            assert sorted(o.keys("recent-updates", {"project": "PROJ", "since_ms": since})) == ["PROJ-1", "PROJ-2"]
        finally:
            o.close()
    assert oracle.key_checksum(["a", "b"]) == oracle.key_checksum(["b", "a"])
    assert oracle.key_checksum(["a", "b"]) != oracle.key_checksum(["a", "a"])


def main() -> int:
    tests = [(n, f) for n, f in sorted(globals().items()) if n.startswith("test_")]
    for name, fn in tests:
        fn()
        print(f"ok  {name}")
    print(f"{len(tests)} passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
