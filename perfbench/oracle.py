"""Independent checks of what the program wrote, computed without Spark.

State and delta files are read with DuckDB straight from parquet; git repos
are asked with ``git rev-list``. Expected values come from the generator's
own record of what it emitted (cdc_trickle) or from hand-written SQL
(jql_reads).
"""

from __future__ import annotations

import hashlib
import os
import subprocess
from collections import Counter, defaultdict

import duckdb


def key_checksum(keys) -> int:
    """Order-independent checksum of a key multiset."""
    total = 0
    for k in keys:
        total = (total + int.from_bytes(hashlib.blake2b(k.encode(), digest_size=8).digest(), "big")) % (1 << 64)
    return total


def _parquet_glob(path: str) -> str:
    return os.path.join(path, "**", "*.parquet")


def current_state_dir(state_root: str) -> str:
    state_dir = os.path.join(state_root, "sync_state")
    with open(os.path.join(state_dir, "_CURRENT")) as f:
        return os.path.join(state_dir, f"v_{int(f.read().strip()):05d}")


# -- cdc_trickle --------------------------------------------------------------

def expected_cdc(events: list[dict], poll_of_page: dict[int, int]) -> dict:
    """What the sync must have produced from ``events`` consumed by the
    polls in ``poll_of_page`` (page seq → poll id).

    * ``last_updated_ms``: max stamp per key;
    * ``polls_per_key``: number of distinct polls a key appeared in;
    * ``commits``: per project, one commit per event plus one symlink commit
      per poll in which the project had at least one relationship edge;
    * ``rows``: one commit-log row per event.
    """
    last = {}
    polls = defaultdict(set)
    commits = Counter()
    link_polls = defaultdict(set)
    for e in events:
        key = e["key"]
        project = key.rsplit("-", 1)[0]
        poll = poll_of_page[e["page"]]
        last[key] = max(last.get(key, 0), e["stamp_ms"])
        polls[key].add(poll)
        commits[project] += 1
        if e["edges"]:
            link_polls[project].add(poll)
    for project, ps in link_polls.items():
        commits[project] += len(ps)
    return {
        "last_updated_ms": last,
        "polls_per_key": {k: len(v) for k, v in polls.items()},
        "commits": dict(commits),
        "rows": len(events),
    }


def check_cdc(state_root: str, out_root: str, exp: dict,
              preload_keys: set[str] | None, n_preload: int,
              preload_updated_ms: int) -> list[str]:
    """Compare sync state and commit log against ``exp``; returns a list of
    mismatch descriptions (empty when everything matches).
    ``preload_keys`` is the set of touched keys that were preloaded (those
    carry the preload's sync_count of 1)."""
    errors: list[str] = []
    con = duckdb.connect()
    con.execute(
        "create view st as select key, epoch_ms(last_updated) as lu, sync_count "
        f"from read_parquet('{_parquet_glob(current_state_dir(state_root))}', hive_partitioning=true)"
    )
    n_rows, n_keys = con.execute("select count(*), count(distinct key) from st").fetchone()
    touched = exp["last_updated_ms"]
    n_new = sum(1 for k in touched if k not in preload_keys)
    if n_rows != n_keys:
        errors.append(f"state has {n_rows} rows for {n_keys} keys")
    if n_keys != n_preload + n_new:
        errors.append(f"state has {n_keys} keys, expected {n_preload + n_new}")
    rows = {
        k: (lu, sc)
        for k, lu, sc in con.execute(
            "select key, lu, sync_count from st where key in (select unnest(?))",
            [list(touched)],
        ).fetchall()
    }
    bad = 0
    for k, lu in touched.items():
        want_count = exp["polls_per_key"][k] + (1 if k in preload_keys else 0)
        if rows.get(k) != (lu, want_count):
            bad += 1
            if bad <= 3:
                errors.append(f"state[{k}] = {rows.get(k)}, expected {(lu, want_count)}")
    if bad > 3:
        errors.append(f"... {bad} state rows differ in total")
    untouched_ok = con.execute(
        "select count(*) from st where lu = ? and sync_count = 1 and key not in (select unnest(?))",
        [preload_updated_ms, list(touched)],
    ).fetchone()[0]
    if untouched_ok != n_preload - len(preload_keys):
        errors.append(f"{untouched_ok} untouched preload rows intact, expected {n_preload - len(preload_keys)}")
    n_log = con.execute(
        f"select count(*) from read_parquet('{_parquet_glob(os.path.join(out_root, 'commit_log'))}')"
    ).fetchone()[0]
    if n_log != exp["rows"]:
        errors.append(f"commit log has {n_log} rows, expected {exp['rows']}")
    con.close()
    return errors


def check_git(git_root: str, exp: dict) -> dict[str, tuple[int, int]]:
    """Projects whose repo commit count differs: project → (got, expected)."""
    bad = {}
    for project, want in sorted(exp["commits"].items()):
        got = git_commit_count(os.path.join(git_root, project))
        if got != want:
            bad[project] = (got, want)
    return bad


def git_commit_count(repo: str) -> int:
    out = subprocess.run(
        ["git", "-C", repo, "rev-list", "--count", "main"],
        capture_output=True, text=True,
    )
    return int(out.stdout.strip()) if out.returncode == 0 else -1


# -- jql_reads ----------------------------------------------------------------

#: DuckDB versions of the benchmark's query kinds over the latest-wins view.
JQL_ORACLE_SQL = {
    "project-active-issues":
        "select key from latest where project_key = $project "
        "and status.name not in ('Closed', 'Done')",
    "epic-all-issues":
        "select key from latest where epic_link = $epic "
        "or parent_issue in (select key from latest where epic_link = $epic)",
    "recent-updates":
        "select key from latest where project_key = $project "
        "and epoch_ms(updated) >= $since_ms",
    "priority-type":
        "select key from latest where project_key = $project "
        "and priority = $priority and issuetype = $type",
    "assignee-status":
        "select key from latest where assignee.name = $assignee "
        "and status.name = $status",
    "summary-text":
        "select key from latest where project_key = $project "
        "and contains(summary, $word)",
}


class JqlOracle:
    """Latest-wins view over the issue delta files, queried by DuckDB."""

    def __init__(self, issues_path: str):
        self.con = duckdb.connect()
        self.con.execute(
            "create table latest as select * exclude (rn) from ("
            "select *, row_number() over (partition by key order by updated desc) as rn "
            f"from read_parquet('{_parquet_glob(issues_path)}', hive_partitioning=true)"
            ") where rn = 1"
        )

    def keys(self, kind: str, params: dict) -> list[str]:
        sql = JQL_ORACLE_SQL[kind]
        used = {k: v for k, v in params.items() if f"${k}" in sql}
        return [r[0] for r in self.con.execute(sql, used).fetchall()]

    def close(self) -> None:
        self.con.close()
