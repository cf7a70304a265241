"""S8 file-level git materialization — turn commit_log rows into REAL git
commits (reference: pkg/git/git.go:214-357, the system's entire output
contract per README.md:53-73: one YAML file per issue, one conventional
commit per synced issue version, plus the relationship symlink tree).

One implementation of each step:

* ``_commit_frame`` — one projection of the issue row: the commit-log
  columns (sinks.commit_log_rows) plus the YAML fields. No join, so k
  versions of one key in a batch give exactly k commits.
* ``_fast_import`` — the one function that spawns ``git fast-import``: create
  the repo on demand, graft onto the branch tip when it exists (re-runs
  APPEND), stream, check the exit code, check out the working tree. Its
  two renderers, ``_commit_stream`` (one commit per row, inline YAML blob)
  and ``_symlink_stream`` (one commit of mode-120000 entries), share one
  commit-header renderer.
* ``_fan_out`` — the one per-project partition writer: hash-partition the
  frame by project_key, sort within partitions, and let each executor task
  run ``_fast_import`` per project repo under ``repos_root/<project_key>``,
  returning (project, n) for what it actually wrote. One Spark action; the
  Spark driver sees the counts, never the rows.

Public writers over them:

* ``materialize_fast_import`` — single repo, fed from ``toLocalIterator``
  (constant driver memory; the driver pipe bounds throughput).
* ``materialize_fan_out`` / ``materialize_symlinks_fan_out`` — the
  reference's layout, one repo PER PROJECT: issue commits and the symlink
  tree. Requires ``repos_root`` reachable from executors (a shared
  filesystem, which a per-project-git deployment needs anyway).
* ``materialize_porcelain`` — reference-parity loop: ``git add`` +
  ``git commit`` per issue (git.go:253-287 stages then commits each file).
  Kept for fidelity and for repos with hooks that must fire; O(n)
  subprocess pairs, use only for small batches.

The YAML document written per issue matches sources/yaml_io.py's layout, so
``read_yaml_issues`` round-trips a materialized repo.
"""

from __future__ import annotations

import itertools
import os
import subprocess
from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jira_cdc_git_spark import sinks

DEFAULT_AUTHOR = "jira-sync <jira-sync@example.com>"

#: renders rows as fast-import commands; the bool grafts onto the branch tip
Stream = Callable[[Iterable, bool], Iterator[bytes]]


def _ensure_repo(repo_dir: str) -> None:
    os.makedirs(repo_dir, exist_ok=True)
    if not os.path.isdir(os.path.join(repo_dir, ".git")):
        subprocess.run(
            ["git", "init", "-q", "-b", "main", repo_dir], check=True
        )
        subprocess.run(
            ["git", "-C", repo_dir, "config", "user.name", "jira-sync"],
            check=True,
        )
        subprocess.run(
            ["git", "-C", repo_dir, "config", "user.email",
             "jira-sync@example.com"],
            check=True,
        )


def _author_or_default(author: str | None) -> str:
    """F7 output ('Name <email>') or the sync-bot identity (git.go:268-276
    falls back to the configured committer when the issue has no assignee).
    """
    if author and "<" in author:
        return author
    return DEFAULT_AUTHOR


def _yaml_doc(row) -> str:
    import yaml

    d = {
        "key": row["key"],
        "summary": row["summary"],
        "issuetype": row["issuetype"],
        "status": {"name": row["status_name"]},
        "updated": str(row["updated"]),
    }
    return yaml.safe_dump(d, sort_keys=True)


def _branch_exists(repo_dir: str) -> bool:
    return (
        subprocess.run(
            ["git", "-C", repo_dir, "rev-parse", "-q", "--verify",
             "refs/heads/main"],
            capture_output=True,
        ).returncode
        == 0
    )


def _commit_header(author: str, when: int, message: str, graft: bool) -> bytes:
    """One fast-import ``commit`` on main. ``graft`` starts it from the
    existing branch tip (``from refs/heads/main^0``) so a batch APPENDS
    instead of fast-import refusing to rewrite an existing branch."""
    msg = message.encode()
    head = (
        "commit refs/heads/main\n"
        f"author {author} {when} +0000\n"
        f"committer {author} {when} +0000\n"
        f"data {len(msg)}\n"
    ).encode()
    return head + msg + b"\n" + (b"from refs/heads/main^0\n" if graft else b"")


def _file_entry(mode: str, path: str, content: str) -> bytes:
    """One inline file entry; ``_fast_import`` counts these (``M ``)."""
    data = content.encode()
    head = f"M {mode} inline {path}\ndata {len(data)}\n".encode()
    return head + data + b"\n"


def _commit_stream(rows: Iterable, graft: bool) -> Iterator[bytes]:
    """One commit per commit-frame row, its YAML document inline."""
    for r in rows:
        yield _commit_header(
            _author_or_default(r["author"]),
            int(r["commit_ts"].timestamp()),
            r["subject"] + "\n\n" + (r["body"] or ""),
            graft,
        )
        graft = False
        yield _file_entry("644", r["file_path"], _yaml_doc(r))


def _symlink_stream(rows: Iterable, graft: bool) -> Iterator[bytes]:
    """Symlink rows (link_path, target) as ONE commit of mode-120000
    entries — git's symlink is a blob whose content is the target path,
    exactly what the reference's createSymbolicLink writes
    (links.go:309-357)."""
    entries = [
        _file_entry("120000", r["link_path"], r["target"]) for r in rows
    ]
    if entries:
        msg = f"chore(links): materialize {len(entries)} relationship links"
        yield _commit_header(DEFAULT_AUTHOR, 0, msg, graft)
        yield from entries


def _fast_import(rows: Iterable, repo_dir: str, stream: Stream) -> int:
    """Feed ``stream(rows, graft)`` into one ``git fast-import`` against
    repo_dir (created on demand; grafts onto main when it exists), then
    check out the working tree — fast-import writes refs/objects only.
    Runs wherever it's called, driver or executor task. Returns the number
    of file entries written."""
    _ensure_repo(repo_dir)
    graft = _branch_exists(repo_dir)
    proc = subprocess.Popen(
        ["git", "-C", repo_dir, "fast-import", "--quiet", "--done"],
        stdin=subprocess.PIPE,
    )
    n = 0
    try:
        for chunk in stream(rows, graft):
            proc.stdin.write(chunk)
            n += chunk.startswith(b"M ")
        proc.stdin.write(b"done\n")
        proc.stdin.close()
        rc = proc.wait()
        if rc != 0:
            raise RuntimeError(f"git fast-import failed rc={rc}")
    finally:
        if proc.poll() is None:
            proc.kill()
    subprocess.run(
        ["git", "-C", repo_dir, "checkout", "-q", "-f", "main"], check=True
    )
    return n


def _fan_out(
    frame: DataFrame,
    repos_root: str,
    sort_cols: tuple[str, ...],
    stream: Stream,
) -> dict[str, int]:
    """Run ``_fast_import`` once per project repo inside executor tasks:
    hash-partition by project_key, sort (project_key, *sort_cols) within
    partitions, and collect (project, n) for what each task wrote. Raises
    if any executor import fails."""

    def _write(rows):
        for project, group in itertools.groupby(
            rows, key=lambda r: r["project_key"]
        ):
            yield project, _fast_import(
                group, os.path.join(repos_root, project), stream
            )

    return dict(
        frame.repartition("project_key")
        .sortWithinPartitions("project_key", *sort_cols)
        .rdd.mapPartitions(_write)
        .collect()
    )


def _commit_frame(issues: DataFrame) -> DataFrame:
    """commit_log rows + the flat fields the YAML document needs, in ONE
    projection of the issue row, ordered deterministically (commit_ts, key)
    — the order the reference produces by syncing sorted keys
    (jira_builder.go:222-225 ORDER BY injection)."""
    return sinks.commit_log_rows(
        issues,
        "project_key",
        "summary",
        "issuetype",
        F.col("status.name").alias("status_name"),
        "updated",
    ).orderBy("commit_ts", "key")


def materialize_fast_import(issues: DataFrame, repo_dir: str) -> int:
    """Materialize one commit per issue version via a single streaming
    ``git fast-import``. Returns the number of commits written.

    Single-repo form: right for small/medium batches and for a one-repo
    layout; the whole corpus funnels through one driver-side pipe. For the
    reference's per-project repo layout at scale use
    ``materialize_fan_out``."""
    return _fast_import(
        _commit_frame(issues).toLocalIterator(), repo_dir, _commit_stream
    )


def materialize_fan_out(issues: DataFrame, repos_root: str) -> dict[str, int]:
    """Per-project git fan-out — the scale shape of S8 and the reference's
    layout (one repo per project, README.md:53-73): one commit per issue
    version in ``repos_root/<project_key>``, written by executor tasks;
    re-runs append so incremental batches compose. Returns
    {project_key: n_commits} as counted by the writers."""
    return _fan_out(
        _commit_frame(issues), repos_root, ("commit_ts", "key"), _commit_stream
    )


def materialize_porcelain(issues: DataFrame, repo_dir: str) -> int:
    """Reference-parity per-issue staging loop (git.go:253-287): write the
    YAML, ``git add`` it, ``git commit`` with the conventional message and
    the issue's author/date. Small batches only."""
    _ensure_repo(repo_dir)
    n = 0
    for r in _commit_frame(issues).toLocalIterator():
        path = os.path.join(repo_dir, r["file_path"])
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(_yaml_doc(r))
        os.replace(tmp, path)
        subprocess.run(
            ["git", "-C", repo_dir, "add", "--", r["file_path"]], check=True
        )
        author = _author_or_default(r["author"])
        when = f"{int(r['commit_ts'].timestamp())} +0000"
        env = dict(
            os.environ,
            GIT_AUTHOR_DATE=when,
            GIT_COMMITTER_DATE=when,
        )
        subprocess.run(
            [
                "git", "-C", repo_dir, "commit", "-q",
                "--author", author,
                "-m", r["subject"] + "\n\n" + (r["body"] or ""),
                "--only", "--", r["file_path"],
            ],
            check=True,
            env=env,
        )
        n += 1
    return n


def git_log_subjects(repo_dir: str) -> list[str]:
    """Oldest-first commit subjects — the round-trip check surface."""
    out = subprocess.run(
        ["git", "-C", repo_dir, "log", "--reverse", "--format=%s"],
        check=True,
        capture_output=True,
        text=True,
    )
    return [line for line in out.stdout.splitlines() if line]


def materialize_symlinks_fan_out(
    edges: DataFrame, repos_root: str
) -> dict[str, int]:
    """Complete the reference's on-disk output contract (README.md:53-73):
    the relationship SYMLINK TREE, one commit per project repo, fanned out
    like materialize_fan_out. Each edge renders through
    operators/jira.symlink_rows into a mode-120000 entry, so after checkout
    `projects/{pk}/relationships/...` holds real symlinks resolving into
    `issues/`. Re-runs graft onto the branch tip (idempotent content:
    re-adding the same link rewrites the same path). Returns
    {project_key: n_links} as counted by the writers."""
    from jira_cdc_git_spark.operators.jira import symlink_rows

    return _fan_out(
        symlink_rows(edges), repos_root, ("link_path",), _symlink_stream
    )
