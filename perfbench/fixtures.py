"""Seeded synthetic inputs built JVM-side with ``spark.range``.

The benchmark cannot read data outside its checkout, so the preload that the
workloads run against is generated here: issue ids map to keys
``<PROJECT>-<n>`` round-robin over the six projects of ``feedgen.PROJECTS``,
and every other field is a hash of (seed, id, salt). The same seed gives the
same rows.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from perfbench.feedgen import ISSUETYPES, PRIORITIES, PROJECTS, STATUSES

#: 6 × 24,700 = 148,200 issues, the size of the sf0.1 issue fixture.
PER_PROJECT = 24_700
N_PRELOAD = PER_PROJECT * len(PROJECTS)
#: ``updated`` of preloaded issues lies in [BASE, BASE + 30 days); delta batch
#: ``b`` (1-based) shifts it by ``b × VERSION_STRIDE`` so a later version of a
#: key is always newer than an earlier one.
BASE = datetime(2024, 1, 1)
VERSION_STRIDE = timedelta(days=40)
#: Sync watermark and ``updated`` of preloaded sync-state rows.
PRELOAD_SYNCED = datetime(2024, 6, 1)
PRELOAD_UPDATED = datetime(2024, 5, 1)
#: Every EPIC_EVERY-th id block (one id per project) is an Epic.
EPIC_EVERY = 300
WORDS = ["alpha", "beta", "gamma", "delta", "sync", "git", "cache", "login",
         "export", "report", "search", "billing", "deploy", "schema", "queue"]


def _pick(values: list[str], h: Column) -> Column:
    return F.element_at(F.array(*[F.lit(v) for v in values]), (h % len(values) + 1).cast("int"))


def _h(seed: int, salt: int, col: str = "id") -> Column:
    return F.pmod(F.xxhash64(F.col(col), F.lit(seed), F.lit(salt)), F.lit(2**31 - 1))


def key_col(id_col: Column) -> Column:
    return F.concat(_pick(PROJECTS, id_col), F.lit("-"), (F.floor(id_col / len(PROJECTS)) + 1).cast("string"))


def state_frame(spark: SparkSession) -> DataFrame:
    """``schemas.SYNC_STATE`` rows for the ``N_PRELOAD`` preloaded issues:
    synced once at PRELOAD_SYNCED, last updated at PRELOAD_UPDATED."""
    ids = spark.range(N_PRELOAD)
    key = key_col(F.col("id"))
    return ids.select(
        key.alias("key"),
        _pick(PROJECTS, F.col("id")).alias("project_key"),
        F.lit(PRELOAD_SYNCED).alias("last_synced"),
        F.lit(PRELOAD_UPDATED).alias("last_updated"),
        F.lit(1).alias("version"),
        F.concat(F.lit("projects/"), _pick(PROJECTS, F.col("id")), F.lit("/issues/"), key, F.lit(".yaml")).alias("file_path"),
        F.lit(0).cast("long").alias("file_size"),
        F.sha2(key, 256).alias("checksum"),
        F.lit("success").alias("sync_status"),
        F.lit(None).cast("string").alias("error_message"),
        F.lit(1).alias("sync_count"),
    )


def issue_frame(ids: DataFrame, seed: int, version: int, n_issues: int) -> DataFrame:
    """``schemas.ISSUES`` rows for the ids in ``ids.id`` of a table whose
    preload holds ids ``0..n_issues-1`` (a multiple of EPIC_EVERY); ``version``
    0 is the preload, ``b >= 1`` the b-th delta batch."""
    h = lambda salt: _h(seed, salt)  # noqa: E731
    pid = F.col("id") % len(PROJECTS)
    key = key_col(F.col("id"))
    n_epics = n_issues // EPIC_EVERY
    is_epic = (F.col("id") % EPIC_EVERY) < len(PROJECTS)
    epic_id = (h(1) % n_epics) * EPIC_EVERY + pid
    itype = F.when(is_epic, F.lit("Epic")).otherwise(_pick(ISSUETYPES, h(2)))
    status_idx = (h(3) % len(STATUSES)).cast("int")
    status_names = [s for s, _ in STATUSES]
    status_cats = [c for _, c in STATUSES]
    user = F.concat(F.lit("user"), (h(4) % 40).cast("string"))
    offset_s = (h(5) % (30 * 86400)).cast("long") + F.lit(version * int(VERSION_STRIDE.total_seconds()))
    updated = F.timestamp_seconds(F.lit(int((BASE - datetime(1970, 1, 1)).total_seconds())) + offset_s)
    parent_id = F.col("id") - len(PROJECTS) * (h(6) % 5 + 1)
    epic_link = F.when(~is_epic & (h(7) % 5 != 0), key_col(epic_id))
    return ids.select(
        key.alias("key"),
        _pick(PROJECTS, F.col("id")).alias("project_key"),
        F.concat_ws(" ", _pick(WORDS, h(8)), _pick(WORDS, h(9)), F.lit("v" + str(version))).alias("summary"),
        F.lit("Synthetic issue.").alias("description"),
        F.struct(
            F.element_at(F.array(*[F.lit(s) for s in status_names]), status_idx + 1).alias("name"),
            F.element_at(F.array(*[F.lit(c) for c in status_cats]), status_idx + 1).alias("category"),
        ).alias("status"),
        F.when(h(10) % 5 != 0, F.struct(user.alias("name"), F.concat(user, F.lit("@example.com")).alias("email"))).alias("assignee"),
        F.struct(F.lit("reporter").alias("name"), F.lit("reporter@example.com").alias("email")).alias("reporter"),
        F.lit(BASE).alias("created"),
        updated.alias("updated"),
        _pick(PRIORITIES, h(11)).alias("priority"),
        itype.alias("issuetype"),
        epic_link.alias("epic_link"),
        F.when((itype == "Sub-task") & (parent_id >= 0), key_col(parent_id)).alias("parent_issue"),
        F.when(h(12) % 4 == 0, F.array(key_col(F.col("id") + len(PROJECTS)))).otherwise(F.array().cast("array<string>")).alias("subtasks"),
        F.when(
            h(13) % 3 == 0,
            F.array(F.struct(
                F.lit("Blocks").alias("type"), F.lit("outward").alias("direction"),
                key_col(h(14) % n_issues).alias("issue_key"), F.lit("linked").alias("summary"),
            )),
        ).otherwise(F.array().cast("array<struct<type:string,direction:string,issue_key:string,summary:string>>")).alias("issue_links"),
        F.when(epic_link.isNotNull(), F.create_map(F.lit("customfield_12311140"), epic_link))
        .otherwise(F.create_map().cast("map<string,string>")).alias("custom_fields"),
    )


def delta_ids(spark: SparkSession, batch: int, n_edits: int, n_new: int, n_issues: int) -> DataFrame:
    """Ids of delta batch ``batch`` (1-based) against a preload of
    ``n_issues``: ``n_edits`` distinct preloaded ids (stride 7919, a prime
    that must not divide ``n_issues``) and ``n_new`` fresh ids."""
    edits = spark.range(n_edits).select(((F.col("id") * 7919 + batch * 104_729) % n_issues).alias("id"))
    new = spark.range(n_new).select((F.col("id") + n_issues + (batch - 1) * n_new).alias("id"))
    return edits.unionByName(new)


def epic_keys(n: int) -> list[str]:
    """The first ``n`` epic keys (ids ``k × EPIC_EVERY + project``)."""
    out = []
    for i in range(n):
        eid = (i // len(PROJECTS)) * EPIC_EVERY + i % len(PROJECTS)
        out.append(f"{PROJECTS[eid % len(PROJECTS)]}-{eid // len(PROJECTS) + 1}")
    return out
