"""Open-loop change-feed generator for the ``cdc_trickle`` workload.

Runs as its own process (``python3 perfbench/feedgen.py --feed DIR ...``) so
that the arrival schedule does not slow down when the sync under test does.
Every event is one JIRA issue edit or creation, rendered as one issue of a
JIRA REST ``/search`` response page. Pages land in the feed directory by
atomic rename, so a poller never sees a half-written page.

Protocol with the poller:

1. Write the warm-up page ``p000000-<stamp>.json`` (one edit per project).
2. Wait for ``<feed>/_GO`` to appear, then run the schedule for ``--seconds``:
   each tick writes every event that has fallen due as one page.
3. Write ``_events.jsonl`` (one line per event) and ``_gen.json`` (lateness
   summary), then exit.

Page names carry the largest ``updated`` stamp of the page in epoch
milliseconds. Stamps are strictly increasing across the whole run, so a
poller that uses the largest stamp it has read as its sync watermark never
drops a later event.

The schedule (due times, kinds, keys, field values) is a pure function of the
seed; only the stamps depend on the clock.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import time
from datetime import datetime, timezone

PROJECTS = ["PROJ", "BENCH", "MEM", "CONC", "RHOAIENG", "MY-PROJECT"]
STATUSES = [
    ("To Do", "new"),
    ("In Progress", "indeterminate"),
    ("In Review", "indeterminate"),
    ("Done", "done"),
    ("Closed", "done"),
]
ISSUETYPES = ["Story", "Bug", "Task", "Sub-task", "Improvement", "Documentation", "Test"]
PRIORITIES = ["Blocker", "Critical", "High", "Medium", "Low"]
LINK_TYPES = ["Blocks", "Clones", "Documents", "Relates"]

#: Rate of single edits/creations (events per second). Arrivals are evenly
#: spaced with seeded jitter, so every seed offers the same load.
BASE_RATE = 12.0
#: Jitter of a single arrival, as a share of the spacing 1/BASE_RATE.
JITTER = 0.4
#: Burst period (s) and events per burst: a burst is one user bulk-editing
#: issues of one project at the same instant, at (k + BURST_PHASE) ×
#: BURST_GAP_S. The phase keeps bursts away from the end of the first
#: measured poll (~6 s on 4 CPUs), so they do not flip between polls.
BURST_GAP_S = 4.0
BURST_PHASE = 0.25
BURST_SIZE = 20
#: Share of non-burst events that create a new issue instead of editing one.
CREATE_SHARE = 0.15
#: Project popularity follows a Zipf law with this exponent.
PROJECT_ZIPF = 1.1
#: Edited key number within a project is ``1 + floor(n * u**KEY_SKEW)``; a
#: larger exponent concentrates edits on fewer keys (repeat edits).
KEY_SKEW = 4.0
#: Generator tick: due events are batched into one page per tick.
TICK_S = 0.05


def iso_ms(epoch_ms: int) -> str:
    """JIRA-style UTC timestamp with milliseconds (``...T..:..:..SSSZ``)."""
    dt = datetime.fromtimestamp(epoch_ms / 1000.0, tz=timezone.utc)
    return dt.strftime("%Y-%m-%dT%H:%M:%S.") + f"{epoch_ms % 1000:03d}Z"


def project_of(key: str) -> str:
    return key.rsplit("-", 1)[0]


def render_issue(key: str, updated_ms: int, rng: random.Random) -> tuple[dict, int]:
    """One REST ``issues[]`` element and its relationship-edge count (the
    rows ``operators.jira.link_edges_frame`` derives from it)."""
    project = project_of(key)
    num = int(key.rsplit("-", 1)[1])
    status, category = rng.choice(STATUSES)
    itype = rng.choice(ISSUETYPES)
    n_edges = 0
    epic = None
    if rng.random() < 0.8:
        epic = f"{project}-{1 + 50 * rng.randrange(20)}"
        n_edges += 1
    parent = None
    if itype == "Sub-task" and num > 1:
        parent = {"key": f"{project}-{rng.randrange(1, num)}"}
        n_edges += 1
    subtasks = [{"key": f"{project}-{num + 1}"}] if rng.randrange(3) == 0 else []
    n_edges += len(subtasks)
    links = []
    for _ in range(rng.randrange(3)):
        other = {"key": f"{rng.choice(PROJECTS)}-{rng.randrange(1, 500)}",
                 "fields": {"summary": "linked"}}
        side = "outwardIssue" if rng.random() < 0.5 else "inwardIssue"
        links.append({"type": {"name": rng.choice(LINK_TYPES)}, side: other})
        n_edges += 1
    user = f"user{rng.randrange(40)}"
    fields = {
        "summary": f"{itype} {key} rev {updated_ms % 100000}",
        "description": "Generated change event.",
        "status": {"name": status, "statusCategory": {"key": category}},
        "assignee": (None if rng.random() < 0.2 else
                     {"displayName": user, "emailAddress": f"{user}@example.com"}),
        "reporter": {"displayName": "reporter", "emailAddress": "reporter@example.com"},
        "created": "2024-01-01T10:00:00.000Z",
        "updated": iso_ms(updated_ms),
        "priority": {"name": rng.choice(PRIORITIES)},
        "issuetype": {"name": itype},
        "project": {"key": project},
        "parent": parent,
        "subtasks": subtasks,
        "issuelinks": links,
        "customfield_12311140": epic,
    }
    return {"key": key, "fields": fields}, n_edges


def search_page(issues: list[dict]) -> str:
    """A complete JIRA REST v2 search response holding ``issues``."""
    return json.dumps(
        {"startAt": 0, "maxResults": len(issues), "total": len(issues), "issues": issues}
    )


def current_versions(pages: list[str]) -> list[str]:
    """What one JIRA search for the changes on ``pages`` (oldest first)
    returns: every changed issue once, in its newest version. A key edited on
    several pages, or twice on one page, keeps only its last occurrence
    (stamps increase in page order); pages left empty are dropped."""
    docs = [json.loads(p)["issues"] for p in pages]
    last = {}
    for i, issues in enumerate(docs):
        for j, issue in enumerate(issues):
            last[issue["key"]] = (i, j)
    out = []
    for i, issues in enumerate(docs):
        keep = [x for j, x in enumerate(issues) if last[x["key"]] == (i, j)]
        if keep:
            out.append(search_page(keep))
    return out


def schedule(seed: int, seconds: float, per_project: int) -> list[tuple[float, str, str]]:
    """The open-loop arrival schedule: ``(due_offset_s, kind, key)`` sorted by
    due time. ``kind`` is ``edit``, ``create`` or ``burst``; edited keys come
    from the preloaded range ``1..per_project`` of each project. Timing and
    volume depend only on ``seconds``; the seed picks jitter, kinds, projects
    and keys."""
    rng = random.Random(seed)
    weights = [1.0 / (i + 1) ** PROJECT_ZIPF for i in range(len(PROJECTS))]
    next_new = {p: per_project + 1 for p in PROJECTS}

    def edit_key(project: str) -> str:
        return f"{project}-{1 + int(per_project * rng.random() ** KEY_SKEW)}"

    events: list[tuple[float, str, str]] = []
    for i in range(int(seconds * BASE_RATE)):
        t = (i + 0.5 + rng.uniform(-JITTER, JITTER)) / BASE_RATE
        project = rng.choices(PROJECTS, weights)[0]
        if rng.random() < CREATE_SHARE:
            events.append((t, "create", f"{project}-{next_new[project]}"))
            next_new[project] += 1
        else:
            events.append((t, "edit", edit_key(project)))
    t = BURST_PHASE * BURST_GAP_S
    while t < seconds:
        project = rng.choices(PROJECTS, weights)[0]
        events.extend((t, "burst", edit_key(project)) for _ in range(BURST_SIZE))
        t += BURST_GAP_S
    events.sort(key=lambda e: e[0])
    return events


class Stamper:
    """Strictly increasing epoch-millisecond stamps, never behind the clock."""

    def __init__(self) -> None:
        self.last = 0

    def __call__(self) -> int:
        self.last = max(int(time.time() * 1000), self.last + 1)
        return self.last


def write_page(feed: str, seq: int, issues: list[dict], max_stamp: int) -> str:
    name = f"p{seq:06d}-{max_stamp}.json"
    tmp = os.path.join(feed, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write(search_page(issues))
    os.replace(tmp, os.path.join(feed, name))
    return name


def run(feed: str, seed: int, seconds: float, per_project: int) -> None:
    rng = random.Random(seed ^ 0x5EED)
    stamp = Stamper()
    log: list[dict] = []

    def emit(seq: int, batch: list[tuple[float | None, str, str]]) -> None:
        issues = []
        for due, kind, key in batch:
            ms = stamp()
            issue, n_edges = render_issue(key, ms, rng)
            issues.append(issue)
            log.append({"key": key, "kind": kind, "due": due, "stamp_ms": ms,
                        "page": seq, "edges": n_edges})
        write_page(feed, seq, issues, stamp.last)

    emit(0, [(None, "warmup", f"{p}-1") for p in PROJECTS])
    go = os.path.join(feed, "_GO")
    while not os.path.exists(go):
        time.sleep(0.005)
    t0 = time.time()
    plan = schedule(seed, seconds, per_project)
    i, seq = 0, 0
    while i < len(plan):
        now = time.time() - t0
        due_next = plan[i][0]
        if due_next > now:
            time.sleep(min(TICK_S, due_next - now))
            continue
        batch = []
        while i < len(plan) and plan[i][0] <= now:
            off, kind, key = plan[i]
            batch.append((t0 + off, kind, key))
            i += 1
        seq += 1
        emit(seq, batch)
        # tick pacing: let more events fall due before the next page
        time.sleep(TICK_S)
    late = sorted(e["stamp_ms"] / 1000.0 - e["due"] for e in log if e["due"] is not None)
    summary = {
        "events": len(log),
        "pages": seq + 1,
        "t0": t0,
        "lateness_p99_s": late[min(len(late) - 1, int(0.99 * len(late)))] if late else 0.0,
    }
    with open(os.path.join(feed, "_events.jsonl"), "w") as f:
        for e in log:
            f.write(json.dumps(e) + "\n")
    with open(os.path.join(feed, "_gen.json.tmp"), "w") as f:
        json.dump(summary, f)
    os.replace(os.path.join(feed, "_gen.json.tmp"), os.path.join(feed, "_gen.json"))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--feed", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--per-project", type=int, required=True)
    a = ap.parse_args()
    run(a.feed, a.seed, a.seconds, a.per_project)


if __name__ == "__main__":
    main()
