"""JIRA-shaped operators over the derived fixtures (SURVEY §2.2-§2.6 rows
that need real issue-shaped data: P1-P4 projection/explode, the JQL template
queries P5-P16/P18, epic analysis A2/A3/A6, hybrid discovery U1, broken
links J2, CDC candidates J5/C1, reconciliation J3/J4/J6, commit formatting
F6, timestamp parsing F4).

Every operator consumes ``fixtures.issues()`` (nested) and has an exact
DuckDB oracle built on ``fixtures.duckdb_issues_cte()`` (flat) — the same
derivation SQL, so hash comparisons are meaningful.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jira_cdc_git_spark import fixtures as FX
from jira_cdc_git_spark import jql as JQL
from jira_cdc_git_spark.functions import scalar as SC
from jira_cdc_git_spark.operators.graph import hierarchy_levels

# deterministic "now" for relative-date queries (P13) — data spans 1995-2001
FIXED_NOW = datetime(2000, 1, 1, tzinfo=timezone.utc).replace(tzinfo=None)


# ---------------------------------------------------------------------------
# Projections / reshaping (P1-P4)
# ---------------------------------------------------------------------------

def issue_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/F7/F8 — null-safe flatten of nested structs (convertJIRAIssue,
    pkg/client/client.go:237-282) + formatUserInfo (git.go:361-372) +
    case-insensitive categorization. Narrow projection, zero shuffle."""
    iss = FX.issues(spark, sf_dir)
    return iss.select(
        "key",
        F.col("status.name").alias("status_name"),
        SC.format_user(F.col("assignee.name"), F.col("assignee.email")).alias(
            "assignee_fmt"
        ),
        SC.type_category(F.col("issuetype")).alias("type_category"),
        "priority",
    )


def epic_custom_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/P6/F2 — map-key extraction of the epic-link custom field
    (extractEpicLink, pkg/client/client.go:340-349; cf key configurable at
    pkg/jql/builder.go:118) + parseEpicKey split (builder.go:249-264)."""
    iss = FX.issues(spark, sf_dir)
    cf = F.col("custom_fields").getItem("customfield_12311140")
    return (
        iss.select(
            "key",
            cf.alias("cf_epic"),
            SC.epic_project(cf).alias("epic_project"),
            SC.epic_number(cf).alias("epic_num"),
        )
        .filter(F.col("cf_epic").isNotNull())
    )


def link_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4/P3/S9 — materialize ALL relationship edges of every issue
    (CreateRelationshipLinks, pkg/links/links.go:33-95: epic_link, parent,
    subtasks, typed issue links with lowercased type dirs links.go:277-289).
    explode is narrow; unionByName is metadata-only."""
    return link_edges_frame(FX.issues(spark, sf_dir))


def link_edges_frame(iss: DataFrame) -> DataFrame:
    """Frame-level edge builder behind link_edges — the live-sync pipeline
    feeds it the REST-parsed change batch (same schemas.ISSUES shape) so
    each incremental sync appends only ITS issues' edges."""
    epic = iss.filter(F.col("epic_link").isNotNull()).select(
        F.col("key").alias("src_key"),
        "project_key",
        F.lit("epic").alias("link_type"),
        F.lit("outward").alias("direction"),
        F.col("epic_link").alias("dst_key"),
        F.lit(None).cast("string").alias("dst_summary"),
    )
    parent = iss.filter(F.col("parent_issue").isNotNull()).select(
        F.col("key").alias("src_key"),
        "project_key",
        F.lit("parent").alias("link_type"),
        F.lit("outward").alias("direction"),
        F.col("parent_issue").alias("dst_key"),
        F.lit(None).cast("string").alias("dst_summary"),
    )
    sub = iss.select(
        F.col("key").alias("src_key"),
        "project_key",
        F.explode("subtasks").alias("dst_key"),
    ).select(
        "src_key",
        "project_key",
        F.lit("subtask").alias("link_type"),
        F.lit("outward").alias("direction"),
        "dst_key",
        F.lit(None).cast("string").alias("dst_summary"),
    )
    typed = iss.select(
        F.col("key").alias("src_key"),
        "project_key",
        F.explode("issue_links").alias("l"),
    ).select(
        "src_key",
        "project_key",
        F.lower(F.col("l.type")).alias("link_type"),
        F.col("l.direction").alias("direction"),
        F.col("l.issue_key").alias("dst_key"),
        F.col("l.summary").alias("dst_summary"),
    )
    return epic.unionByName(parent).unionByName(sub).unionByName(typed)


def broken_link_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — edges whose target issue doesn't exist (validateCompleteness
    pkg/epic/jira_analyzer.go:326-356). left_anti against the key set; AQE
    broadcasts the build side when small."""
    edges = link_edges(spark, sf_dir)
    iss = FX.issues(spark, sf_dir).select(F.col("key").alias("__k"))
    return (
        edges.join(iss, edges.dst_key == F.col("__k"), "left_anti")
        .select("src_key", "link_type", "dst_key")
    )


# ---------------------------------------------------------------------------
# JQL template queries (P5-P16, P18)
# ---------------------------------------------------------------------------

def _ctx(spark: SparkSession, sf_dir: str) -> JQL.JQLContext:
    iss = FX.issues(spark, sf_dir)
    # sprint membership stand-in: the issue's block is an "open sprint"
    # when block % 11 <= 1 (deterministic; the reference delegates sprint
    # state to the JIRA server, pkg/jql/builder.go:195)
    block = F.floor(
        F.regexp_extract(F.col("key"), r"-(\d+)$", 1).cast("bigint") / 20
    ).cast("bigint")
    return JQL.JQLContext(
        issues=iss,
        links=None,
        current_user="user7",
        now=FIXED_NOW,
        open_sprint_member=(block % 11) <= 1,
        changelog=FX.changelog(spark, sf_dir),
    )


def jql_project_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11/P12/P18 — the project-active-issues template
    (pkg/profile/templates.go:114, pkg/jql/builder.go:174) compiled to a
    Catalyst predicate; isin + != push down to the scan."""
    jql = JQL.build_from_template("project-active-issues", {"project": "MEM"})
    iss = FX.issues(spark, sf_dir)
    out = JQL.run_jql(jql, iss, _ctx(spark, sf_dir))
    return out.select("key", F.col("status.name").alias("status_name"), "issuetype")


def jql_epic_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/P9/P10/P18 — epic-all-issues: `"Epic Link" = K OR parent IN
    (issuesInEpic(K))` (pkg/jql/builder.go:132, jira_builder.go:61-79).
    The IN-subquery decorrelates to a broadcast member-set join marker."""
    jql = JQL.build_from_template("epic-all-issues", {"epic": "PROJ-0"})
    iss = FX.issues(spark, sf_dir)
    out = JQL.run_jql(jql, iss, _ctx(spark, sf_dir))
    return out.select("key", "epic_link", "parent_issue")


def jql_epic_stories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/P15/P18 — epic-stories-only template (pkg/jql/builder.go:153)."""
    jql = JQL.build_from_template("epic-stories-only", {"epic": "BENCH-20"})
    iss = FX.issues(spark, sf_dir)
    out = JQL.run_jql(jql, iss, _ctx(spark, sf_dir))
    return out.select("key", "issuetype")


def jql_recent_updates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P13/W2/P18 — recent-updates template with relative date
    `updated >= -{days}d` (pkg/jql/builder.go:221) against the fixed
    deterministic 'now'."""
    jql = JQL.build_from_template(
        "recent-updates", {"project": "CONC", "days": "90"}
    )
    iss = FX.issues(spark, sf_dir)
    out = JQL.run_jql(jql, iss, _ctx(spark, sf_dir))
    return out.select("key", "updated")


def jql_my_sprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P14/P18 — my-current-sprint template: currentUser() session binding +
    openSprints() membership (pkg/jql/builder.go:195,
    pkg/profile/templates.go:161)."""
    jql = JQL.build_from_template("my-current-sprint")
    iss = FX.issues(spark, sf_dir)
    out = JQL.run_jql(jql, iss, _ctx(spark, sf_dir))
    return out.select("key", F.col("assignee.name").alias("assignee_name"))


def jql_start_of_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JQL date functions (startOfDay/endOfDay/startOfWeek/endOfWeek with
    offsets — the Atlassian date-function surface beyond bare relative
    dates): resolved against the deterministic ctx.now at compile time,
    so the predicate pushes down as a plain timestamp literal."""
    iss = FX.issues(spark, sf_dir)
    out = JQL.run_jql(
        'updated >= startOfWeek("-100w") AND project = "BENCH"',
        iss,
        _ctx(spark, sf_dir),
    )
    return out.select("key", "updated")


def jql_was_in_progress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JQL history operator WAS (Atlassian JQL changelog surface; the
    reference pushes such queries to the JIRA server — here the server is
    us, so WAS compiles to a semi-join against the changelog fixture's
    to_value rows). Basic form: ever-held-value membership."""
    iss = FX.issues(spark, sf_dir)
    out = JQL.run_jql(
        'project = "PROJ" AND status WAS "In Progress"',
        iss,
        _ctx(spark, sf_dir),
    )
    return out.select("key", F.col("status.name").alias("status_name"))


def jql_changed_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JQL CHANGED with FROM/TO/AFTER qualifiers: transition-row filter
    over the changelog (creation rows excluded by from_value IS NOT
    NULL)."""
    iss = FX.issues(spark, sf_dir)
    out = JQL.run_jql(
        'status CHANGED FROM "In Progress" TO "Done" AFTER "1995-06-01"',
        iss,
        _ctx(spark, sf_dir),
    )
    return out.select("key", F.col("status.name").alias("status_name"))


def jql_was_open_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JQL WAS with the AFTER interval qualifier: the value must still be
    HELD after the cutoff, which needs the interval end (lead(changed_at)
    over the per-issue timeline) — the windowed branch of the history
    compiler."""
    iss = FX.issues(spark, sf_dir)
    out = JQL.run_jql(
        'status WAS "Open" AFTER "1997-06-01" AND project IN ("PROJ", "MEM")',
        iss,
        _ctx(spark, sf_dir),
    )
    return out.select("key", "created")


# ---------------------------------------------------------------------------
# Epic analysis aggregates (A2, A3, A6, U1)
# ---------------------------------------------------------------------------

def epic_members_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — IssuesByType per epic: group → sorted key list
    (pkg/epic/jira_analyzer.go:223-247; sorted per W3
    jira_analyzer.go:314-323). collect_list is bounded (≤19 members/epic);
    one shuffle on (epic, type)."""
    iss = FX.issues(spark, sf_dir)
    return (
        iss.filter(F.col("epic_link").isNotNull())
        .groupBy(F.col("epic_link").alias("epic_key"), F.lower("issuetype").alias("member_type"))
        .agg(
            F.count("*").alias("n"),
            F.concat_ws(",", F.sort_array(F.collect_list("key"))).alias("keys_sorted"),
        )
    )


def relationship_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — relationship-type census (jira_analyzer.go:235-245):
    count(epic_link present), count(parent present), sum(len(issue_links)),
    sum(len(subtasks)). Single partial+final aggregate."""
    iss = FX.issues(spark, sf_dir)
    return iss.agg(
        F.count(F.col("epic_link")).alias("n_with_epic"),
        F.count(F.col("parent_issue")).alias("n_with_parent"),
        F.sum(F.size("issue_links")).alias("total_links"),
        F.sum(F.size("subtasks")).alias("total_subtasks"),
    )


def epic_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — completeness ratio + threshold recommendations
    (jira_analyzer.go:326-375). Expected size is the fixture block size - 1;
    the done-rate drives the recommendation rule."""
    iss = FX.issues(spark, sf_dir)
    members = (
        iss.filter(F.col("epic_link").isNotNull())
        .groupBy(F.col("epic_link").alias("epic_key"))
        .agg(
            F.count("*").alias("found_n"),
            F.sum(
                F.when(F.col("status.category") == "done", 1).otherwise(0)
            ).alias("done_n"),
        )
    )
    pct_done = F.round(F.col("done_n") / F.col("found_n") * 100, 2)
    return members.select(
        "epic_key",
        F.lit(19).alias("expected_n"),
        "found_n",
        F.round(F.col("found_n") / 19 * 100, 2).alias("completeness_pct"),
        pct_done.alias("pct_done"),
        F.when(pct_done < 50, F.lit("at-risk")).otherwise(F.lit("on-track")).alias(
            "recommendation"
        ),
    )


def hybrid_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 — hybrid epic discovery: union of epic-link, custom-field and
    parent-membership strategies, dedup by key, sorted
    (discoverByHybridStrategy, pkg/epic/jira_analyzer.go:184-220)."""
    iss = FX.issues(spark, sf_dir)
    epic = "PROJ-0"
    s1 = iss.filter(F.col("epic_link") == epic)
    s2 = iss.filter(
        F.col("custom_fields").getItem("customfield_12311140") == epic
    )
    members = s1.select(F.col("key").alias("__k"))
    s3 = iss.join(
        F.broadcast(members), iss.parent_issue == F.col("__k"), "left_semi"
    )
    return (
        s1.unionByName(s2)
        .unionByName(s3)
        .dropDuplicates(["key"])
        .select("key", "issuetype")
    )


EPIC_STRATEGIES = ("epic_link", "custom_field", "parent", "issue_links", "hybrid")

# The exact JQL strings the reference's strategies emit
# (pkg/epic/jira_analyzer.go:158-181).
_STRATEGY_JQL = {
    "epic_link": '"Epic Link" = {epic}',
    "custom_field": "cf[12311140] = {epic}",
    "parent": "parent = {epic}",
    "issue_links": 'issue IN (linkedIssues("{epic}"))',
}


def _typed_links(iss: DataFrame) -> DataFrame:
    """Edge frame backing linkedIssues(): typed issue_links only (epic/
    parent/subtask relations have their own predicates)."""
    return iss.select(
        F.col("key").alias("src_key"), F.explode("issue_links").alias("l")
    ).select("src_key", F.col("l.issue_key").alias("dst_key"))


def discover_epic_members(
    spark: SparkSession,
    sf_dir: str,
    epic_key: str = "PROJ-0",
    strategy: str = "epic_link",
    include_linked: bool = True,
) -> DataFrame:
    """Epic discovery strategy dispatcher (DiscoverEpicIssues,
    pkg/epic/jira_analyzer.go:95-110). Each concrete strategy builds the
    same JQL string the reference emits (jira_analyzer.go:158-181) and
    compiles it through the JQL-subset compiler, so strategy selection is
    pure config — exactly the reference's shape. Unknown strategies fall
    back to epic_link (the reference's default branch).

    "hybrid" unions epic_link + custom_field (+ issue_links when
    include_linked — the IncludeLinkedIssues option, jira_analyzer.go:
    183-218) and dedups by key. Member sets are per-epic small, so the
    compiler's marker joins broadcast; the dedup shuffles only the few
    matched rows, never the corpus.

    linkedIssues(K) follows the compiler's edge semantics: targets of
    typed-link rows recorded on K (src_key = K)."""
    iss = FX.issues(spark, sf_dir)
    if strategy == "hybrid":
        parts = ["epic_link", "custom_field"]
        if include_linked:
            parts.append("issue_links")
        out = None
        for s in parts:
            nxt = discover_epic_members(spark, sf_dir, epic_key, s)
            out = nxt if out is None else out.unionByName(nxt)
        return out.dropDuplicates(["key"])
    jql = _STRATEGY_JQL.get(strategy, _STRATEGY_JQL["epic_link"]).format(
        epic=epic_key
    )
    ctx = JQL.JQLContext(issues=iss, links=_typed_links(iss))
    return JQL.run_jql(jql, iss, ctx).select("key", "issuetype")


def epic_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 over real issue shape: parent = coalesce(parent_issue, epic_link),
    roots are epics, iterative self-join to depth 5
    (pkg/epic/jira_analyzer.go:250-311, cap pkg/epic/analyzer.go:91).
    Dangling parents drop out (cycle/orphan exclusion)."""
    iss = FX.issues(spark, sf_dir)
    nodes = iss.select(
        "key", F.coalesce("parent_issue", "epic_link").alias("parent_key")
    )
    out = hierarchy_levels(nodes, "key", "parent_key")
    return out.select("key", "parent", "level")


# ---------------------------------------------------------------------------
# CDC / reconciliation over fixtures (J5/C1, J3/J4/J6)
# ---------------------------------------------------------------------------

def incremental_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/C1 on the real shape — filterIssuesForSync
    (internal/sync/incremental.go:298-363) + NeedsSync
    (pkg/state/manager.go:444-454): new if absent from sync_state, else
    sync iff updated > last_synced."""
    iss = FX.issues(spark, sf_dir)
    st = FX.sync_state(spark, sf_dir).select(
        F.col("key").alias("state_key"), "last_synced"
    )
    joined = iss.join(st, iss.key == st.state_key, "left_outer")
    return (
        joined.filter(
            F.col("state_key").isNull()
            | (F.col("updated") > F.col("last_synced"))
        )
        .select(
            "key",
            F.when(F.col("state_key").isNull(), F.lit("new"))
            .otherwise(F.lit("updated"))
            .alias("change_type"),
        )
    )


def incremental_modified_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 candidate option IncludeNew=false (SyncCandidateOptions,
    pkg/state/types.go:117-124 + getSyncCandidates manager.go:386-442):
    only ALREADY-TRACKED issues whose updated beat the watermark; brand-new
    keys are excluded. Same single-shuffle join as incremental_candidates
    with the option folded into the predicate."""
    iss = FX.issues(spark, sf_dir)
    st = FX.sync_state(spark, sf_dir).select(
        F.col("key").alias("state_key"), "last_synced"
    )
    joined = iss.join(st, iss.key == st.state_key, "left_outer")
    return (
        joined.filter(
            F.col("state_key").isNotNull()
            & (F.col("updated") > F.col("last_synced"))
        )
        .select("key", F.lit("updated").alias("change_type"))
    )


def incremental_project_scoped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 candidate option Projects=[...] (types.go:117-124): the change
    scan restricted to two projects. The project filter lands BEFORE the
    join (predicate pushdown to the scan), so the join input shrinks
    first — the option is a pruning predicate, not a post-filter."""
    iss = FX.issues(spark, sf_dir).filter(
        F.col("project_key").isin("PROJ", "MEM")
    )
    st = FX.sync_state(spark, sf_dir).select(
        F.col("key").alias("state_key"), "last_synced"
    )
    joined = iss.join(st, iss.key == st.state_key, "left_outer")
    return (
        joined.filter(
            F.col("state_key").isNull()
            | (F.col("updated") > F.col("last_synced"))
        )
        .select(
            "key",
            "project_key",
            F.when(F.col("state_key").isNull(), F.lit("new"))
            .otherwise(F.lit("updated"))
            .alias("change_type"),
        )
    )


def reconciliation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/J4/J6 — the recovery/validation sweep (pkg/state/manager.go:
    473-591): orphaned files (on disk, not in state), missing files (in
    state, not on disk), checksum drift (both, sha mismatch). Three
    anti/inner joins unioned with a problem tag."""
    st = FX.sync_state(spark, sf_dir)
    fl = FX.files(spark, sf_dir)
    orphaned = fl.join(
        st, fl.path == st.file_path, "left_anti"
    ).select(F.lit("orphaned").alias("problem"), F.col("path"))
    missing = st.join(
        fl, st.file_path == fl.path, "left_anti"
    ).select(F.lit("missing").alias("problem"), F.col("file_path").alias("path"))
    drift = (
        st.join(fl, st.file_path == fl.path)
        .filter(F.col("checksum") != F.col("sha256"))
        .select(F.lit("drift").alias("problem"), F.col("path"))
    )
    return orphaned.unionByName(missing).unionByName(drift)


# ---------------------------------------------------------------------------
# Scalar-function parity queries (F1, F4, F6)
# ---------------------------------------------------------------------------

def commit_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6/F7/F1/F8 — conventional-commit subject per issue
    (pkg/git/git.go:293-358)."""
    iss = FX.issues(spark, sf_dir)
    return iss.select(
        "key",
        SC.commit_subject(F.col("key"), F.col("issuetype"), F.col("summary")).alias(
            "commit_subject"
        ),
        SC.format_user(F.col("assignee.name"), F.col("assignee.email")).alias(
            "author"
        ),
    )


def project_key_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 — BOTH reference extraction variants side by side; `diverges`
    flags keys where the first-dash variant is wrong (multi-dash projects —
    pkg/schema/yaml.go:126-134 vs pkg/links/links.go:335-341)."""
    iss = FX.issues(spark, sf_dir)
    rx = SC.project_key_regex(F.col("key"))
    px = SC.project_key_prefix(F.col("key"))
    return iss.select(
        "key",
        rx.alias("pk_regex"),
        px.alias("pk_prefix"),
        (rx != px).alias("diverges"),
    )


def parse_issue_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2/P16/P17 — issue-list parse + dedup + validate
    (parseIssueList/validateIssueList, internal/cli/sync.go:365-424 +
    validateIssueKey sync.go:329-341): split a raw comma list, trim,
    drop empties, dedup, and flag entries failing the key regex —
    QUARANTINE (valid=false), not drop, per the P17 constraint-validation
    posture. The fixture list carries whitespace, duplicates and a bad
    entry every 31st row."""
    flat = FX.issues_flat(spark, sf_dir)
    raw = F.concat(
        F.col("key"),
        F.lit(" , "),
        F.col("key"),
        F.lit(","),
        F.when(F.col("k") % 31 == 0, F.lit("bad key!")).otherwise(F.col("key")),
    )
    items = (
        flat.select(F.explode(F.split(raw, ",")).alias("raw_item"))
        .select(F.trim("raw_item").alias("issue_key"))
        .filter(F.col("issue_key") != "")
        .distinct()
    )
    return items.select(
        "issue_key",
        F.col("issue_key").rlike("^" + SC.ISSUE_KEY_PATTERN + "$").alias(
            "valid"
        ),
    )


def timestamp_multiformat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 — the 6-layout timestamp parse (parseJIRATime,
    pkg/state/manager.go:679-702) with QUARANTINE semantics: unparseable
    strings yield NULL (the reference silently maps them to zero-time —
    manager.go:698-701 — which hides bad data; SURVEY §7 hardness item 5).
    The fixture renders `updated` through 4 formats by k%4 plus a corrupt
    string every 97th row."""
    flat = FX.issues_flat(spark, sf_dir)
    k = F.col("k")
    ts_str = (
        F.when(k % 97 == 0, F.lit("not-a-date"))
        .when(k % 4 == 0, F.date_format("updated", SC.JIRA_TIME_FMT))
        .when(k % 4 == 1, F.date_format("updated", "yyyy-MM-dd HH:mm:ss"))
        .when(k % 4 == 2, F.date_format("updated", "yyyy-MM-dd"))
        .otherwise(F.date_format("updated", "yyyy/MM/dd HH:mm"))
    )
    out = flat.select("key", ts_str.alias("ts_str"))
    parsed = SC.parse_jira_time(F.col("ts_str"))
    return out.select(
        "key",
        "ts_str",
        parsed.alias("parsed"),
        parsed.isNull().alias("quarantined"),
    )


def preview_query(
    spark: SparkSession, sf_dir: str, jql: str | None = None, sample_n: int = 10
) -> dict:
    """PreviewQuery parity (pkg/jql/jira_builder.go:237-269): before running
    a full sync, report the result's total count, a deterministic sample
    page, and per-project/status/type breakdowns for a JQL string. Returns
    {"breakdowns": DataFrame, "sample": DataFrame} — the breakdowns frame
    carries the total as the all-NULL grouping-sets row, so the whole
    preview costs ONE aggregation shuffle plus a TakeOrdered sample (the
    reference runs three separate counting passes + a paged fetch).

    The JQL string goes through optimize_query first — exactly the
    reference's flow (PreviewQuery calls OptimizeQuery before executing)."""
    jql = jql or JQL.build_from_template(
        "project-active-issues", {"project": "MEM"}
    )
    optimized, _notes = JQL.optimize_query(jql)
    iss = FX.issues(spark, sf_dir)
    plan = JQL.compile_jql(optimized, _ctx(spark, sf_dir))
    filtered = plan.apply(iss)
    filtered.createOrReplaceTempView("_preview_filtered")
    breakdowns = spark.sql(
        """
        SELECT coalesce(project_key, 'ALL') AS project,
               coalesce(status.name, 'ALL') AS status,
               coalesce(issuetype, 'ALL') AS issuetype,
               count(*) AS n
        FROM _preview_filtered
        GROUP BY GROUPING SETS ((project_key), (status.name), (issuetype), ())
        """
    )
    sample = filtered.orderBy("key").limit(sample_n).select(
        "key", F.col("status.name").alias("status_name"), "issuetype"
    )
    return {"breakdowns": breakdowns, "sample": sample}


def jql_preview_breakdowns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry face of preview_query: the one-pass breakdown frame for the
    project-active template (P18 + A1 composed through the optimizer)."""
    return preview_query(spark, sf_dir)["breakdowns"]


def scd2_status_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension type-2 view of the status changelog: one
    row per (issue, held value) with its validity interval
    [valid_from, valid_to) and an is_current flag — the warehouse
    modeling of the CDC feed (valid_to NULL = open interval). This is
    the materialized form of the interval timeline the JQL WAS compiler
    derives on the fly; persisting it partitioned by project turns every
    history predicate into a pruned interval scan.

    100 TB shape: one lead() window partitioned by (key, field) —
    bounded per-issue groups, never global."""
    from pyspark.sql import Window

    cl = FX.changelog(spark, sf_dir).filter(F.col("field") == "status")
    w = Window.partitionBy("key", "field").orderBy("changed_at")
    nxt = F.lead("changed_at").over(w)
    return cl.select(
        "key",
        F.col("to_value").alias("status_value"),
        F.col("changed_at").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Skew-salted CDC join (SURVEY §4.2 "salting for mega-epics"; J5/J7 family)
# ---------------------------------------------------------------------------

#: salt fan-out for the skewed links⋈issues join demo — the hot key's
#: rows spread across this many shuffle partitions.
SALT_BUCKETS = 16


def _skewed_epic_edges(flat: DataFrame) -> DataFrame:
    """DELIBERATELY skewed member→epic edges: every even-numbered issue
    reports to the one mega-epic PROJ-0 (≈50% of all edges on a single
    join key — the mega-epic shape SURVEY §4.2 warns about), the rest
    keep their block epic. The skew is the fixture's point; the join
    operators below are the mitigation under test."""
    return flat.filter(F.col("epic_link").isNotNull()).select(
        F.col("key").alias("member_key"),
        F.when(F.col("k") % 2 == 0, F.lit("PROJ-0"))
        .otherwise(F.col("epic_link"))
        .alias("epic_key"),
    )


def skewed_epic_join(
    spark: SparkSession, sf_dir: str, salted: bool = True,
    n_salts: int = SALT_BUCKETS,
) -> DataFrame:
    """The links⋈issues enrichment join under a mega-epic hot key, with
    the two-phase SALT mitigation (SURVEY §4.2): the big skewed side
    gets a deterministic salt in [0, n_salts) hashed from its OWN key,
    the epic dimension side is replicated once per salt value, and the
    join runs on (epic_key, salt) — the hot key's rows land on n_salts
    shuffle partitions instead of one. Results are identical to the
    unsalted join (salted=False), which is the oracle-parity claim.

    Both variants force a shuffle join (shuffle_hash hint): at this
    fixture size Spark would rightly broadcast the dimension and no
    skew could exist — salting is the play when BOTH sides are too big
    to broadcast, so the demo pins the plan a 100 TB run would get.
    AQE's skewedJoin covers sort-merge joins at runtime; explicit
    salting is the portable form that also covers shuffle-hash joins
    and grouped aggregations."""
    flat = FX.issues_flat(spark, sf_dir)
    edges = _skewed_epic_edges(flat)
    epics = flat.filter(F.col("issuetype") == "Epic").select(
        F.col("key").alias("epic_key"),
        F.col("status_name").alias("epic_status"),
    )
    if not salted:
        joined = edges.join(epics.hint("shuffle_hash"), "epic_key")
    else:
        salted_edges = edges.withColumn(
            "salt", F.pmod(F.xxhash64("member_key"), F.lit(n_salts)).cast("int")
        )
        replicated = epics.withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
        )
        joined = salted_edges.join(
            replicated.hint("shuffle_hash"), ["epic_key", "salt"]
        ).drop("salt")
    return joined.select("member_key", "epic_key", "epic_status")


def skewed_epic_join_unsalted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same join WITHOUT the salt stage — the bench baseline the
    salted variant is compared against on the skewed fixture."""
    return skewed_epic_join(spark, sf_dir, salted=False)


def symlink_rows(edges: DataFrame) -> DataFrame:
    """S9 file-level form — the relationship SYMLINK TREE the reference
    actually writes (pkg/links/links.go:241-307), computed as a table:
    one row per edge with the link path and its relative target.

    Layout rules (links.go):
      epic     projects/{pk}/relationships/epic/{src}          → ../../issues/{dst}.yaml
      parent   projects/{pk}/relationships/parent/{src}        → ../../issues/{dst}.yaml
      subtask  projects/{pk}/relationships/subtasks/{src}/{dst}→ ../../../issues/{dst}.yaml
      typed    projects/{pk}/relationships/{type}/{direction}/{src}
                                                               → ../../../issues/{dst}.yaml
    Narrow projection over the edge frame; the git sink writes each
    project's rows as one commit of mode-120000 entries through its one
    per-project writer and returns the link counts it wrote
    (sinks_git.materialize_symlinks_fan_out)."""
    base = F.concat_ws(
        "/", F.lit("projects"), F.col("project_key"), F.lit("relationships")
    )
    two_up = F.concat(F.lit("../../issues/"), F.col("dst_key"), F.lit(".yaml"))
    three_up = F.concat(
        F.lit("../../../issues/"), F.col("dst_key"), F.lit(".yaml")
    )
    path = (
        F.when(
            F.col("link_type").isin("epic", "parent"),
            F.concat_ws("/", base, F.col("link_type"), F.col("src_key")),
        )
        .when(
            F.col("link_type") == "subtask",
            F.concat_ws(
                "/", base, F.lit("subtasks"), F.col("src_key"), F.col("dst_key")
            ),
        )
        .otherwise(
            F.concat_ws(
                "/", base, F.col("link_type"), F.col("direction"),
                F.col("src_key"),
            )
        )
    )
    target = F.when(
        F.col("link_type").isin("epic", "parent"), two_up
    ).otherwise(three_up)
    return edges.select(
        "project_key",
        "link_type",
        path.alias("link_path"),
        target.alias("target"),
    )


def relationship_symlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry form of the symlink tree over the fixture issue table."""
    return symlink_rows(link_edges_frame(FX.issues(spark, sf_dir)))


# ---------------------------------------------------------------------------
# Round-6 driver-green twins for pytest-only §2 rows (F10/F11/C6/S5+S7)
# ---------------------------------------------------------------------------

def key_from_path_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 — issue-key extraction from sync file paths
    (internal/sync/incremental.go:468-475: strip dirs, strip `.yaml`)
    over the files fixture, with the P16 key-shape regex flagging
    non-issue residue (ORPHAN-* files parse but a real sync would
    re-validate). Pure regexp_extract — whole-stage codegen, no
    shuffle; at 100 TB this is a narrow map over the listing."""
    fl = FX.files(spark, sf_dir)
    key = SC.key_from_path(F.col("path"))
    return fl.select(
        "path",
        key.alias("issue_key"),
        key.rlike(r"^[A-Z][A-Z0-9]*(-[A-Z0-9]+)*-[0-9]+$").alias("valid"),
    )


def duration_parse_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 — duration-flag parsing (internal/cli/sync.go:477-492:
    `500ms`/`2s`/`3m`/`1h`, reject everything else) over a derived
    flag corpus: each fixture issue contributes one duration string,
    two slots of which are malformed (the reject path). Row-level
    output so the oracle hashes the exact NULL propagation."""
    iss = FX.issues_flat(spark, sf_dir)
    dur = (
        F.when(F.col("k") % 6 == 0, F.concat(F.lit(""), (F.col("k") % 900).cast("string"), F.lit("ms")))
        .when(F.col("k") % 6 == 1, F.concat((F.col("k") % 120).cast("string"), F.lit("s")))
        .when(F.col("k") % 6 == 2, F.concat((F.col("k") % 60).cast("string"), F.lit("m")))
        .when(F.col("k") % 6 == 3, F.concat((F.col("k") % 24).cast("string"), F.lit("h")))
        .when(F.col("k") % 6 == 4, F.concat(F.lit("PT"), (F.col("k") % 24).cast("string"), F.lit("H")))
        .otherwise(F.lit(""))
    )
    return iss.select(
        "k",
        dur.alias("dur_str"),
        SC.duration_ms(dur).alias("dur_ms"),
    )


def _ops_journal_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived operations journal (every 7th fixture issue = one sync
    op) — shared by sync_history_tail (the C6 cap) and
    job_metrics_rollup (the observability rollup)."""
    iss = FX.issues_flat(spark, sf_dir).filter(F.col("k") % 7 == 0)
    return iss.select(
        F.concat(F.lit("sync-"), F.col("k").cast("string")).alias("op_id"),
        F.when(F.col("k") % 3 == 0, "full_sync")
        .when(F.col("k") % 3 == 1, "incremental_sync")
        .otherwise("reconciliation")
        .alias("op_type"),
        F.when(F.col("k") % 13 == 0, "failed").otherwise("success").alias("status"),
        F.col("updated").alias("started_at"),
        ((F.col("k") % 900) * 100).cast("long").alias("duration_ms"),
    )


def job_metrics_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observability rollup over the derived ops journal — the same
    scheduling.metrics_rollup_frame the live plane runs, driver-checked
    against a DuckDB oracle: run counts, total duration, mean seconds
    and exact p95 per (op_type, status) label pair (the reconcile
    counter/histogram analogs of jirasync_controller.go:100-181)."""
    from jira_cdc_git_spark.scheduling import metrics_rollup_frame

    return metrics_rollup_frame(_ops_journal_frame(spark, sf_dir))


def sync_history_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6/W4 — the operation-history cap over a derived ops journal:
    every 7th fixture issue contributes one sync operation row and only
    the 50 MOST RECENT survive (pkg/state/manager.go:149-152 caps the
    persisted history at 50 entries; state.StateManager.record_operation
    applies the same window on write). Top-50 is TakeOrderedAndProject
    (no global sort); the journal itself is inherently ≤50 rows at rest,
    so scale is not a concern — the cap IS the operator."""
    ops = _ops_journal_frame(spark, sf_dir)
    return (
        ops.orderBy(F.col("started_at").desc(), F.col("op_id"))
        .limit(50)
        .select(
            "op_id",
            "op_type",
            "status",
            F.date_format("started_at", "yyyy-MM-dd HH:mm:ss").alias("started_at"),
            "duration_ms",
        )
    )


def state_roundtrip_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5+S7 as ONE driver-checkable query: the sync_state fixture is
    SAVED through the versioned state manager (atomic pointer flip,
    partitioned by project_key — pkg/state/manager.go:166-179) and
    LOADED back; the returned frame must hash-match the fixture
    derivation the oracle recomputes — proving the parquet round trip
    is lossless, not just runnable. Timestamps emit as strings (engine
    timestamp-normalization differs; the cohort_retention lesson)."""
    import tempfile

    from jira_cdc_git_spark.state import SyncStateStore

    st = FX.sync_state(spark, sf_dir)
    mgr = SyncStateStore(tempfile.mkdtemp(prefix="state_roundtrip_"))
    mgr.save(st)
    out = mgr.load(spark)
    return out.select(
        "key",
        "project_key",
        F.date_format("last_synced", "yyyy-MM-dd HH:mm:ss").alias("last_synced"),
        F.date_format("last_updated", "yyyy-MM-dd HH:mm:ss").alias("last_updated"),
        "version",
        "file_path",
        "file_size",
        "checksum",
        "sync_status",
        "error_message",
        "sync_count",
    )


def status_dwell_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-in-status report from the SCD2 status timeline: per
    (project, status) the closed-interval count and exact p50 / mean
    dwell, in seconds. The cycle-time analytics a reference user runs
    over the synced changelog (how long do issues sit In Review per
    project) — and the template for any state-dwell rollup over a CDC
    feed.

    CROSS-ENGINE DETERMINISM: dwell is an exact integer microsecond
    difference (unix_micros == epoch_us), so sums are exact; the mean
    divides exact integers once per group; p50 is an exact percentile
    over integers.

    100 TB shape: inherits scd2's per-issue lead() window; the rollup is
    a |projects x statuses|-bounded partial aggregation."""
    from jira_cdc_git_spark.functions.text import round_half_up as TX_round

    scd = scd2_status_history(spark, sf_dir).filter(
        F.col("valid_to").isNotNull()
    )
    iv = scd.select(
        F.regexp_extract("key", r"^(.*)-(\d+)$", 1).alias("project_key"),
        F.col("status_value"),
        # timestampdiff handles TIMESTAMP_NTZ (unix_micros does not);
        # the result is an exact integer microsecond count either way
        F.expr("timestampdiff(MICROSECOND, valid_from, valid_to)").alias(
            "dwell_us"
        ),
    )
    return iv.groupBy("project_key", "status_value").agg(
        F.count("*").cast("long").alias("n_intervals"),
        TX_round(F.expr("percentile(dwell_us, 0.5D)") / 1e6, 4).alias(
            "p50_dwell_s"
        ),
        TX_round((F.sum("dwell_us") / F.count("*")) / 1e6, 4).alias(
            "mean_dwell_s"
        ),
    )


# ---------------------------------------------------------------------------
# Round-7 driver twins for pytest-only §2 rows (C3 options, F12, F13, S4)
# ---------------------------------------------------------------------------

#: deterministic clock for the C3 MaxAge / Since variants (the fixture's
#: o_orderdate-derived timestamps actually span 1995-01-01..2001-08-01,
#: so C3_NOW sits MID-data by design: the since/max_age arms exercise
#: both past and "future" updates relative to the clock; mirrors
#: FIXED_NOW's role — r7 ADVICE corrected the stale 1992-1998 claim)
C3_SINCE = "1996-06-01 00:00:00"
C3_NOW = "1998-08-01 00:00:00"
C3_MAX_AGE_DAYS = 365


def incremental_option_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 — the remaining IncrementalSyncOptions arms of GetChangedIssues
    (pkg/state/manager.go:386-442, pkg/state/types.go:117-124), each as a
    labeled candidate set over the sync-state table:

    * ``force``   — Force=true: every tracked key, watermark ignored
      (manager.go:396-401).
    * ``since``   — IncludeModified with an explicit Since cutoff:
      last_updated after the cutoff (manager.go:390-394,408-410).
    * ``max_age`` — IncludeModified vs the per-issue watermark, minus
      issues idle longer than MaxAge (manager.go:432-434).

    The reference iterates state.Issues in Go; here each arm is a scan
    predicate over the same state table, stacked in ONE pass (no union
    of three scans — a single projection emits up to three labeled rows
    per state row, then a filter drops the non-qualifying arms).

    100 TB shape: one scan, no joins, no shuffle (the output needs no
    aggregation); predicates push to the parquet scan."""
    st = FX.sync_state(spark, sf_dir)
    stacked = st.select(
        "key",
        F.expr(
            f"""stack(3,
              'force', true,
              'since', last_updated > TIMESTAMP '{C3_SINCE}',
              'max_age', last_updated > last_synced
                AND last_updated >= TIMESTAMP '{C3_NOW}'
                    - INTERVAL {C3_MAX_AGE_DAYS} DAYS
            ) AS (variant, qualifies)"""
        ),
    )
    return stacked.filter(F.col("qualifies")).select("variant", "key")


def job_id_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 — deterministic job-id materialization (pkg/jobs/job_id.go:26-41
    `{type}-{unix}-{rand}`, with the random tail replaced by a seeded md5
    prefix, functions/scalar.job_id): one id per issue keyed on
    (issuetype, updated, key). Proves the id function end-to-end against
    an independently-assembled oracle string.

    100 TB shape: narrow projection, zero shuffle."""
    iss = FX.issues_flat(spark, sf_dir)
    return iss.select(
        "key",
        SC.job_id(
            F.lower("issuetype"), F.col("updated"), F.col("key")
        ).alias("job_id"),
    )


def json_edge_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13 — JSON edge serialization round-trip (pkg/state/manager.go:
    113-123,154-161 JSON state persistence): to_json(struct(...)) then
    from_json back, emitting BOTH the serialized document and the
    re-parsed fields. The oracle assembles the same JSON document by
    string concatenation and echoes the source fields, so the hash match
    proves (a) Spark's serialized bytes are the canonical compact JSON
    and (b) the parse inverts the serialize exactly.

    Fields are chosen non-null and quote-free (key/project_key/priority)
    so the literal oracle string needs no escaping arm.

    100 TB shape: narrow projection, plus one CONDITIONAL spread
    repartition that fires only when the scan arrives narrower than the
    cluster (never on a real multi-split table — the
    yaml_roundtrip_report treatment)."""
    # the serialize+parse pair is CPU-per-row work and the fixture frame
    # arrives as a handful of scan splits at bench scale — spread it so
    # the codec saturates the cores instead of one task (the
    # yaml_roundtrip_report discipline; measured 2.3 s single-task →
    # 0.35 s). On a real multi-split table the repartition condition in
    # load_table_spread-style sizing never fires; here the frame is
    # already loaded, so spread only when narrower than the cluster.
    iss = FX.issues_flat(spark, sf_dir)
    target = spark.sparkContext.defaultParallelism
    if iss.rdd.getNumPartitions() < target:
        iss = iss.repartition(target, "key")
    js = SC.row_to_json("key", "project_key", "priority")
    parsed = SC.json_to_row(
        js, "key string, project_key string, priority string"
    )
    return iss.select(
        "key",
        js.alias("json_doc"),
        parsed.getField("project_key").alias("rt_project_key"),
        parsed.getField("priority").alias("rt_priority"),
        (parsed.getField("key") == F.col("key")).alias("rt_ok"),
    )


def yaml_roundtrip_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 — the YAML document codec proven WITHOUT touching local files:
    every fixture issue is serialized with the same safe_dump shape
    write_yaml_issues emits (sources/yaml_io.py:52-78, mirroring
    pkg/schema/yaml.go:64-72) and immediately re-parsed with the
    read-side safe_load (yaml_io.py:89-113, FromYAML yaml.go:157-176)
    inside ONE Arrow-batched mapInPandas pass. The output is the parsed
    flat record; the oracle is the identity projection — a hash match
    proves serialize∘parse = id over the whole corpus.

    100 TB shape: one mapInPandas pass (Arrow batches, no per-row UDF
    — the YAML codec itself is inherently per-document); the input
    repartitions so the Python-side codec saturates every core instead
    of inheriting the handful of parquet scan splits (measured 79 s →
    ~8 s at sf0.1); libyaml's C dumper/loader when compiled in."""
    import pandas as pd

    cols = ["key", "project_key", "summary", "issuetype", "status_name"]
    n_codec_tasks = spark.sparkContext.defaultParallelism * 2
    iss = FX.issues_flat(spark, sf_dir).select(*cols).repartition(
        n_codec_tasks
    )

    def _roundtrip(batches):
        import yaml

        dumper = getattr(yaml, "CSafeDumper", yaml.SafeDumper)
        loader = getattr(yaml, "CSafeLoader", yaml.SafeLoader)
        for pdf in batches:
            parsed = [
                yaml.load(
                    yaml.dump(rec, Dumper=dumper, sort_keys=True),
                    Loader=loader,
                )
                for rec in pdf.to_dict("records")
            ]
            yield pd.DataFrame(
                [{c: d.get(c) for c in cols} for d in parsed]
            )

    schema = ", ".join(f"{c} string" for c in cols)
    return iss.mapInPandas(_roundtrip, schema)


def csv_edge_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13's CSV face — the flat-file edge format next to JSON
    (json_edge_roundtrip) and YAML (yaml_roundtrip_report):
    to_csv(struct) then from_csv back, emitting the serialized line and
    the re-parsed fields. The oracle assembles the same comma-joined
    line literally (fields chosen non-null and comma/quote-free), so
    the hash match proves Spark's CSV bytes and the parse inverse.

    100 TB shape: narrow projection, zero shuffle."""
    iss = FX.issues_flat(spark, sf_dir)
    line = F.to_csv(F.struct("key", "project_key", "priority"))
    parsed = F.from_csv(
        line, "key string, project_key string, priority string"
    )
    return iss.select(
        "key",
        line.alias("csv_line"),
        parsed.getField("project_key").alias("rt_project_key"),
        parsed.getField("priority").alias("rt_priority"),
        (parsed.getField("key") == F.col("key")).alias("rt_ok"),
    )
