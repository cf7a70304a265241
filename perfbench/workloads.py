"""The benchmark's workloads. Each drives the program's public entry points
from outside and returns measured samples plus the oracle verdict.

* ``cdc_trickle`` — open-loop change feed → poll loop (each changed issue
  once, in its newest version, as a JIRA search returns it) →
  ``streaming.pipeline.incremental_sync_batch`` with the full write set, over
  a sync state preloaded with 148,200 issues. Exercises the per-batch fixed
  cost of the write path.
* ``jql_reads`` — closed loop, one client, JQL templates and field filters
  compiled by ``jql`` and run over ``sinks.latest_issues`` of a delta-appended
  issues table. Bypasses ``state`` and ``sinks_git``.
"""

from __future__ import annotations

import json
import math
import os
import random
import statistics
import subprocess
import sys
import time
from collections import Counter
from contextlib import nullcontext
from dataclasses import dataclass, field
from datetime import datetime, timedelta

from perfbench import feedgen, fixtures, oracle
from perfbench.feedgen import PROJECTS, PRIORITIES, STATUSES
from perfbench.spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
#: Fixture builds per run; setup_s reports the median.
SETUP_REPEATS = 3
EPOCH = datetime(1970, 1, 1)


@dataclass
class Bench:
    spark: object
    run_dir: str
    seed: int
    seconds: float
    tracer: Tracer | None
    #: free-form facts printed alongside the metrics
    info: dict = field(default_factory=dict)
    t0: float = field(default_factory=time.perf_counter)

    def mark(self, phase: str) -> None:
        """Record when ``phase`` ended, in seconds since the Bench was made."""
        self.info.setdefault("phase_end_s", {})[phase] = round(time.perf_counter() - self.t0, 2)

    def trace_on(self) -> None:
        """Install the span wrappers; workloads call this once set-up is done."""
        if self.tracer:
            install_tracing(self.tracer)

    def span(self, name: str):
        """A benchmark-side span when tracing, else a no-op context."""
        return self.tracer.span(name) if self.tracer else nullcontext()

    def add(self, counter: str, value: float) -> None:
        if self.tracer:
            self.tracer.add(counter, value)

    def phase(self, op: str) -> None:
        """Tag the spans that follow with a poll/query id (``warmup`` spans
        are left out of the per-layer totals)."""
        if self.tracer:
            self.tracer.op = op


@dataclass
class Outcome:
    attempted: int
    failed: int
    errors: list[str]
    setup_s: float
    #: per-operation user-visible latencies (s)
    latencies: list[float]
    #: operations completed per second of the timed phase
    throughput: float
    #: extra per-layer values measured by the workload loop itself
    layer: dict = field(default_factory=dict)


def _timed_setup(build) -> tuple[float, object]:
    """Run ``build(i)`` SETUP_REPEATS times; return the median duration and
    the last result (the one the workload uses)."""
    times, result = [], None
    for i in range(SETUP_REPEATS):
        t = time.perf_counter()
        result = build(i)
        times.append(time.perf_counter() - t)
    return statistics.median(times), result


def _ms_to_dt(ms: int) -> datetime:
    return EPOCH + timedelta(milliseconds=ms)


def _dir_bytes(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


# -- cdc_trickle ----------------------------------------------------------------

def _list_pages(feed: str, consumed: set[str]) -> list[str]:
    return sorted(
        n for n in os.listdir(feed)
        if n.startswith("p") and n.endswith(".json") and n not in consumed
    )


def _page_seq(name: str) -> int:
    return int(name[1:].split("-", 1)[0])


def _page_stamp(name: str) -> int:
    return int(name[:-5].split("-", 1)[1])


def cdc_trickle(b: Bench, current_only: bool = True) -> Outcome:
    """``current_only``: a poll hands the program what a JIRA search returns,
    each changed issue once in its newest version. ``False`` hands it every
    version on the pages read (see ``cdc_multiversion``)."""
    from jira_cdc_git_spark.sources import jira_rest
    from jira_cdc_git_spark.state import SyncStateStore
    from jira_cdc_git_spark.streaming import pipeline

    spark = b.spark
    root = os.path.join(b.run_dir, "cdc")

    def build(i: int) -> SyncStateStore:
        store = SyncStateStore(os.path.join(root, f"state{i}"))
        store.save(fixtures.state_frame(spark))
        return store

    setup_s, store = _timed_setup(build)
    b.mark("setup")
    b.trace_on()
    feed = os.path.join(root, "feed")
    out_root = os.path.join(root, "out")
    git_root = os.path.join(root, "git")
    os.makedirs(feed)

    gen = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "feedgen.py"), "--feed", feed,
         "--seed", str(b.seed), "--seconds", str(b.seconds),
         "--per-project", str(fixtures.PER_PROJECT)],
    )
    consumed: set[str] = set()
    polls: list[dict] = []
    watermark = [fixtures.PRELOAD_SYNCED]

    def poll(names: list[str]) -> None:
        start = time.time()
        payloads = []
        for n in names:
            with open(os.path.join(feed, n)) as f:
                payloads.append(f.read())
        consumed.update(names)
        watermark[0] = _ms_to_dt(max(_page_stamp(n) for n in names))
        if current_only:
            payloads = feedgen.current_versions(payloads)
        with b.span("poll"):
            b.add("jira_rest.pages", len(payloads))
            b.add("jira_rest.bytes", sum(len(p) for p in payloads))
            frame = spark.createDataFrame([(p,) for p in payloads], "payload string")
            issues = jira_rest.parse_search_payloads(frame)
            counts = pipeline.incremental_sync_batch(
                spark, issues, store, out_root, now=watermark[0],
                edges_dir=os.path.join(out_root, "edges"), git_repos_root=git_root,
            )
        done = time.time()
        polls.append({"pages": [_page_seq(n) for n in names], "start": start,
                      "done": done, "total": counts["total"]})

    try:
        # warm-up poll: the generator's page 0, before the open loop starts
        deadline = time.time() + 60
        while not _list_pages(feed, consumed):
            if gen.poll() is not None or time.time() > deadline:
                raise RuntimeError("feed generator produced no warm-up page")
            time.sleep(0.01)
        b.phase("warmup")
        poll(_list_pages(feed, consumed))
        b.mark("warmup")
        jvm0 = _gc(spark)
        t_go = time.time()
        open(os.path.join(feed, "_GO"), "w").close()
        backlog_max = 0
        while True:
            names = _list_pages(feed, consumed)
            if not names:
                if gen.poll() is not None:
                    names = _list_pages(feed, consumed)
                    if not names:
                        break
                else:
                    time.sleep(0.01)
                    continue
            backlog_max = max(backlog_max, len(names))
            b.phase(f"poll{len(polls)}")
            poll(names)
        t_end = time.time()
        b.mark("measure")
        jvm1 = _gc(spark)
        if gen.wait(timeout=30) != 0:
            raise RuntimeError(f"feed generator exited with {gen.returncode}")
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()

    with open(os.path.join(feed, "_gen.json")) as f:
        gen_summary = json.load(f)
    with open(os.path.join(feed, "_events.jsonl")) as f:
        events = [json.loads(line) for line in f]

    poll_of_page = {}
    for i, p in enumerate(polls):
        for seq in p["pages"]:
            poll_of_page[seq] = i
    # the issue versions handed to the program, from the generator's own log
    # (in stamp order, so the last one per poll and key is the newest)
    if current_only:
        newest = {}
        for e in events:
            newest[(poll_of_page[e["page"]], e["key"])] = e
        delivered = list(newest.values())
    else:
        delivered = events
    errors = []
    # zero-change guard: every delivered issue version must come back as a change
    synced = sum(p["total"] for p in polls)
    if synced != len(delivered):
        errors.append(f"sync reported {synced} changes for {len(delivered)} delivered issue "
                      f"versions ({len(events)} generated events)")
    per_page = {}
    for e in delivered:
        per_page[e["page"]] = per_page.get(e["page"], 0) + 1
    for i, p in enumerate(polls):
        want = sum(per_page.get(s, 0) for s in p["pages"])
        if p["total"] != want:
            errors.append(f"poll {i}: total {p['total']}, expected {want}")
    exp = oracle.expected_cdc(delivered, poll_of_page)
    preloaded = {
        k for k in exp["last_updated_ms"]
        if int(k.rsplit("-", 1)[1]) <= fixtures.PER_PROJECT
    }
    errors += oracle.check_cdc(
        store.root, out_root, exp, preloaded, fixtures.N_PRELOAD,
        int((fixtures.PRELOAD_UPDATED - EPOCH).total_seconds() * 1000),
    )
    failed = len(events) if errors else 0
    git_bad = oracle.check_git(git_root, exp)
    if git_bad:
        # a wrong commit count traces back to keys that occur more than once
        # in one poll; name them so the mismatch can be diagnosed
        mult = Counter((poll_of_page[e["page"]], e["key"]) for e in delivered)
        for project, (got, want) in git_bad.items():
            groups = [k for (_, key), k in mult.items() if key.rsplit("-", 1)[0] == project and k > 1]
            errors.append(
                f"git {project}: {got} commits, expected {want}; {sum(groups)} delivered versions "
                f"share their key with another of the same poll (sum of k*k-k over those "
                f"keys: {sum(k * k - k for k in groups)})"
            )
        if not failed:
            failed = sum(
                1 for e in delivered
                if e["key"].rsplit("-", 1)[0] in git_bad
                and mult[(poll_of_page[e["page"]], e["key"])] > 1
            ) or len(events)

    b.mark("oracle")
    lags = [
        polls[poll_of_page[e["page"]]]["done"] - e["due"]
        for e in events if e["due"] is not None
    ]
    timed = polls[1:]
    busy = sum(p["done"] - p["start"] for p in timed)
    b.info.update({
        "events": len(events), "delivered": len(delivered), "polls": len(polls),
        "measured_s": round(t_end - t_go, 3),
        "batch_sizes": [p["total"] for p in polls],
        "batch_s": [round(p["done"] - p["start"], 2) for p in polls],
    })
    layer = {
        "gen.events": float(len(events)),
        "gen.lateness_p99_s": float(gen_summary["lateness_p99_s"]),
        "feed.backlog_max": float(backlog_max),
        "jvm.gc_s": (jvm1[0] - jvm0[0]) / 1000.0,
        "jvm.gc_count": float(jvm1[1] - jvm0[1]),
    }
    if b.tracer:
        layer["state.bytes"] = float(_dir_bytes(oracle.current_state_dir(store.root))[1])
        files, size = _dir_bytes(out_root)
        layer["sinks.files_written"] = float(files)
        layer["sinks.bytes_written"] = float(size)
        layer["sinks.issues_files"] = float(_dir_bytes(os.path.join(out_root, "issues"))[0])
        repos = [os.path.join(git_root, r) for r in os.listdir(git_root)]
        layer["sinks_git.commits"] = float(sum(oracle.git_commit_count(r) for r in repos))
        layer["sinks_git.repos_touched"] = float(len(repos))
    return Outcome(
        attempted=len(events),
        failed=failed,
        errors=errors,
        setup_s=setup_s,
        latencies=lags,
        throughput=sum(p["total"] for p in timed) / busy if busy else 0.0,
        layer=layer,
    )


def cdc_multiversion(b: Bench) -> Outcome:
    """``cdc_trickle`` with every version on the pages read handed to the
    program, so one batch can carry several versions of one issue. Not a
    workload of record: it reproduces the git fan-out writing k² commits for
    k versions of one key in a batch (see README)."""
    return cdc_trickle(b, current_only=False)


# -- jql_reads ------------------------------------------------------------------

#: Issues table: a preload of a third of cdc_trickle's (run time: the table
#: is built three times per run), then delta batches appended to it.
JQL_PRELOAD = 49_200
JQL_DELTAS = 2
JQL_DELTA_EDITS = 1_700
JQL_DELTA_NEW = 300
#: ``now`` the relative-date filters resolve against: just after the last
#: delta batch's ``updated`` range.
JQL_NOW = fixtures.BASE + fixtures.VERSION_STRIDE * JQL_DELTAS + timedelta(days=30)
QUERY_KINDS = sorted(oracle.JQL_ORACLE_SQL)
#: Budgeted query rate: a run of S seconds issues 6 × ceil(S / 6) queries,
#: about one per second on 4 CPUs.
JQL_QUERIES_PER_S = 1.0


def jql_cycles(seconds: float) -> int:
    return max(1, math.ceil(seconds * JQL_QUERIES_PER_S / len(QUERY_KINDS)))


def jql_query(kind: str, rng: random.Random) -> tuple[str, dict]:
    """One query of ``kind`` with seeded parameters: (JQL text, params)."""
    from jira_cdc_git_spark import jql

    project = rng.choice(PROJECTS)
    if kind == "project-active-issues":
        return jql.build_from_template(kind, {"project": project}), {"project": project}
    if kind == "epic-all-issues":
        epic = rng.choice(fixtures.epic_keys(60))
        return jql.build_from_template(kind, {"epic": epic}), {"epic": epic}
    if kind == "recent-updates":
        days = rng.choice([3, 7, 14, 30])
        since = JQL_NOW - timedelta(days=days)
        return (
            jql.build_from_template(kind, {"project": project, "days": str(days)}),
            {"project": project, "since_ms": int((since - EPOCH).total_seconds() * 1000)},
        )
    if kind == "priority-type":
        priority = rng.choice(PRIORITIES)
        itype = rng.choice(["Bug", "Story", "Task"])
        return (
            f"project = {project} AND priority = {priority} AND type = {itype} ORDER BY key ASC",
            {"project": project, "priority": priority, "type": itype},
        )
    if kind == "assignee-status":
        user = f"user{rng.randrange(40)}"
        status = rng.choice([s for s, _ in STATUSES])
        return (
            f'assignee = {user} AND status = "{status}" ORDER BY key ASC',
            {"assignee": user, "status": status},
        )
    word = rng.choice(fixtures.WORDS)
    return (
        f'summary ~ "{word}" AND project = {project} ORDER BY key ASC',
        {"project": project, "word": word},
    )


def jql_reads(b: Bench) -> Outcome:
    from jira_cdc_git_spark import jql, sinks

    spark = b.spark
    root = os.path.join(b.run_dir, "jql")

    def build(i: int) -> str:
        path = os.path.join(root, f"issues{i}")
        sinks.append_issue_deltas(
            fixtures.issue_frame(spark.range(JQL_PRELOAD), b.seed, 0, JQL_PRELOAD), path
        )
        for batch in range(1, JQL_DELTAS + 1):
            ids = fixtures.delta_ids(spark, batch, JQL_DELTA_EDITS, JQL_DELTA_NEW, JQL_PRELOAD)
            sinks.append_issue_deltas(fixtures.issue_frame(ids, b.seed, batch, JQL_PRELOAD), path)
        return path

    setup_s, path = _timed_setup(build)
    b.mark("setup")
    b.trace_on()
    rng = random.Random(b.seed)

    def run_query(text: str) -> list[str]:
        with b.span("jql.query"):
            latest = sinks.latest_issues(spark, path)
            optimized, _ = jql.optimize_query(text)
            plan = jql.compile_jql(optimized, jql.JQLContext(issues=latest, now=JQL_NOW))
            with b.span("jql.execute"):
                keys = [r["key"] for r in plan.apply(latest).select("key").collect()]
        b.add("jql.rows_out", len(keys))
        return keys

    # untimed: one query per builtin template; their plans (membership join,
    # NOT IN, timestamp sort) cover the shapes of the field filters too
    b.phase("warmup")
    warm_rng = random.Random(-1 - b.seed)
    for kind in ("epic-all-issues", "project-active-issues", "recent-updates"):
        run_query(jql_query(kind, warm_rng)[0])
    b.mark("warmup")

    jvm0 = _gc(spark)
    done: list[tuple[str, dict, list[str], float]] = []
    t_go = time.perf_counter()
    # a fixed number of whole cycles, each every kind in seeded order, so all
    # runs of one length take their median over the same mix
    for _ in range(jql_cycles(b.seconds)):
        cycle = list(QUERY_KINDS)
        rng.shuffle(cycle)
        for kind in cycle:
            text, params = jql_query(kind, rng)
            b.phase(f"q{len(done)}")
            t = time.perf_counter()
            keys = run_query(text)
            done.append((kind, params, keys, time.perf_counter() - t))
    elapsed = time.perf_counter() - t_go
    b.mark("measure")
    jvm1 = _gc(spark)

    errors = []
    failed = 0
    ora = oracle.JqlOracle(path)
    try:
        for i, (kind, params, keys, _dt) in enumerate(done):
            want = ora.keys(kind, params)
            if len(keys) != len(want) or oracle.key_checksum(keys) != oracle.key_checksum(want):
                failed += 1
                if failed <= 3:
                    errors.append(f"query {i} {kind} {params}: {len(keys)} rows, oracle {len(want)}")
    finally:
        ora.close()
    b.mark("oracle")
    b.info.update({
        "queries": len(done), "rows_total": sum(len(k) for _, _, k, _ in done),
        "kind_p50_s": {
            kind: round(statistics.median(d for k, _, _, d in done if k == kind), 3)
            for kind in QUERY_KINDS
        },
    })
    layer = {
        "jvm.gc_s": (jvm1[0] - jvm0[0]) / 1000.0,
        "jvm.gc_count": float(jvm1[1] - jvm0[1]),
    }
    if b.tracer:
        layer["sinks.issues_files"] = float(_dir_bytes(path)[0])
    return Outcome(
        attempted=len(done),
        failed=failed,
        errors=errors,
        setup_s=setup_s,
        latencies=[d for *_, d in done],
        throughput=len(done) / elapsed,
        layer=layer,
    )


# -- helpers ----------------------------------------------------------------------

def install_tracing(tracer: Tracer) -> None:
    """Wrap the program's public calls that each layer metric is read from."""
    from jira_cdc_git_spark import jql, sinks, sinks_git
    from jira_cdc_git_spark.sources import jira_rest
    from jira_cdc_git_spark.state import SyncStateStore
    from jira_cdc_git_spark.streaming import pipeline

    def after_merge(version, args, _kw):
        store = args[0]
        new = os.path.join(store.state_dir, f"v_{version:05d}")
        for part in os.listdir(new):
            if not part.startswith("project_key="):
                continue
            files = [f for f in os.listdir(os.path.join(new, part)) if f.endswith(".parquet")]
            linked = files and os.stat(os.path.join(new, part, files[0])).st_nlink > 1
            key = "state.merge.partitions_linked" if linked else "state.merge.partitions_rewritten"
            tracer.add(key, 1)

    tracer.wrap(pipeline, "incremental_sync_batch", "pipeline.sync_batch")
    tracer.wrap(SyncStateStore, "filter_changes", "state.filter_changes")
    tracer.wrap(SyncStateStore, "merge", "state.merge", after=after_merge)
    tracer.wrap(SyncStateStore, "record_operation", "state.record_operation")
    for name in ("append_issue_deltas", "append_commit_log", "write_edges", "latest_issues"):
        tracer.wrap(sinks, name, f"sinks.{name}")
    for name in ("materialize_fan_out", "materialize_symlinks_fan_out"):
        tracer.wrap(sinks_git, name, f"sinks_git.{name}")
    tracer.wrap(jira_rest, "parse_search_payloads", "jira_rest.parse")
    tracer.wrap(jql, "compile_jql", "jql.compile")


def _gc(spark) -> tuple[int, int]:
    """Cumulative JVM GC (milliseconds, collections) over all collectors."""
    jvm = spark.sparkContext._jvm
    ms = count = 0
    for bean in jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans():
        ms += max(0, bean.getCollectionTime())
        count += max(0, bean.getCollectionCount())
    return ms, count


WORKLOADS = {"cdc_trickle": cdc_trickle, "jql_reads": jql_reads}
#: Runnable by name, but not part of ``--workload all`` or BENCHMARK.json.
PROBES = {"cdc_multiversion": cdc_multiversion}
