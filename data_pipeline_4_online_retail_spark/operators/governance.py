"""Data-governance operators: GDPR/CCPA erasure cascade with audit.

A production warehouse must honor deletion requests across every table
keyed by the subject — and prove it did. The erasure itself is a
map-side hash anti-join (no shuffle of the big table when the deletion
list broadcasts); the audit aggregate is the compliance artifact.

The deletion list here is derived deterministically (md5 bucket of
user_id — stands in for the external requests table a DSR system would
deliver); both engines derive it identically, so the audit is
hash-exact. PII masking for retained rows lives in
operators/curation.pii_mask — erasure and masking are the two halves of
the privacy surface.

Scale: broadcast the deletion list (requests are << corpus);
BroadcastHashJoin LeftAnti touches each fact row once, no exchange. At
100 TB pair with partitioned rewrite (sources/io.
write_partitioned_incremental) so only partitions containing deleted
subjects rewrite — physical deletion, not just logical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_4_online_retail_spark.plans.registry import register
from data_pipeline_4_online_retail_spark.sources.catalog import load_tables

ERASURE_HEX = "1"  # first md5 hex digit in {0,1} → ~12.5% of users


def erasure_list(e: DataFrame) -> DataFrame:
    """The deletion-request stand-in: deterministic md5 bucket."""
    return (
        e.select("user_id")
        .distinct()
        .where(F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) <= ERASURE_HEX)
    )


def erase_users(e: DataFrame, requests: DataFrame) -> DataFrame:
    """The cascade: anti-join the fact against the request list."""
    return e.join(F.broadcast(requests), "user_id", "left_anti")


@register(
    "gov_gdpr_erasure_audit",
    f"""
    WITH requests AS (
        SELECT DISTINCT user_id FROM events
        WHERE substr(md5(CAST(user_id AS VARCHAR)), 1, 1) <= '{ERASURE_HEX}')
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS rows_before,
           CAST(SUM(CASE WHEN user_id IN (SELECT user_id FROM requests)
                         THEN 1 ELSE 0 END) AS BIGINT) AS rows_purged,
           CAST(SUM(CASE WHEN user_id IN (SELECT user_id FROM requests)
                         THEN 0 ELSE 1 END) AS BIGINT) AS rows_after
    FROM events
    GROUP BY event_type
    """,
    doc="governance: GDPR erasure cascade + compliance audit — the "
    "deletion list broadcasts into a LeftAnti hash join over the fact; "
    "the audit proves before = purged + after per event_type. The "
    "registered query emits the audit (all BIGINT, hash-exact); the "
    "purged table itself is erase_users(), pytest-pinned to contain "
    "zero requested users and exactly rows_after rows.",
    tags=("governance",),
)
def gov_gdpr_erasure_audit(spark, sf_dir):
    e = load_tables(spark, sf_dir).table("events")
    req = erasure_list(e).withColumn("is_req", F.lit(1))
    return (
        e.join(F.broadcast(req), "user_id", "left")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("rows_before"),
            F.sum(F.coalesce("is_req", F.lit(0))).cast("long").alias("rows_purged"),
            F.sum(1 - F.coalesce("is_req", F.lit(0)))
            .cast("long")
            .alias("rows_after"),
        )
    )


PII_INJECT_MOD = 10


@register(
    "gov_pii_scan_report",
    f"""
    WITH scanned AS (
        SELECT doc_id,
               CASE WHEN doc_id % {PII_INJECT_MOD} = 0
                    THEN text || ' contact: user' || CAST(doc_id AS VARCHAR)
                         || '@example.com or +1-555-01' ||
                         lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-'
                         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    ELSE text END AS text
        FROM documents),
    hits AS (
        SELECT doc_id,
               CAST(regexp_matches(text,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')
                    AS INTEGER) AS has_email,
               CAST(regexp_matches(text,
                    '\\+?[0-9]{{1,2}}-[0-9]{{3}}-[0-9]{{4}}-[0-9]{{4}}')
                    AS INTEGER) AS has_phone
        FROM scanned)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(has_email) AS BIGINT) AS n_email,
           CAST(SUM(has_phone) AS BIGINT) AS n_phone,
           CAST(SUM(CASE WHEN has_email = 1 OR has_phone = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           CAST(SUM(CASE WHEN has_email = 1 OR has_phone = 1
                         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
               AS flag_rate
    FROM hits
    """,
    doc="governance: PII scan report — regex detectors (email, phone) "
    "swept over the text corpus, reported as corpus-level hit rates; "
    "the scan that decides whether pii_mask must run before a corpus "
    "ships. The fixture's synthetic text contains no organic PII, so "
    "every 10th document gets a deterministic injected contact line — "
    "the detector's nonzero path is exercised and the expected "
    "flag_rate is exactly 1/{PII_INJECT_MOD}. Detectors are JVM regex "
    "(rlike) inside codegen; counts combine map-side; zero shuffle "
    "beyond the 1-row aggregate. Spark rlike and DuckDB "
    "regexp_matches share the regex subset used here.",
    tags=("governance",),
)
def gov_pii_scan_report(spark, sf_dir):
    d = load_tables(spark, sf_dir).table("documents")
    injected = F.when(
        F.col("doc_id") % PII_INJECT_MOD == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact: user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-01"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.col("text"))
    email = injected.rlike(
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    ).cast("integer")
    phone = injected.rlike(
        "\\+?[0-9]{1,2}-[0-9]{3}-[0-9]{4}-[0-9]{4}"
    ).cast("integer")
    flagged = (email == 1) | (phone == 1)
    return d.select(email.alias("e"), phone.alias("p"), flagged.cast("integer").alias("f")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("e").cast("long").alias("n_email"),
        F.sum("p").cast("long").alias("n_phone"),
        F.sum("f").cast("long").alias("n_flagged"),
        (F.sum("f").cast("double") / F.count(F.lit(1))).alias("flag_rate"),
    )


# ---------------------------------------------------------------------------
# Row-level security (round 4, continuation)
# ---------------------------------------------------------------------------

# (role, visible region) policy entries — the grant table an RLS layer
# consults; auditor sees every region.
RLS_POLICIES = [
    ("analyst_emea", 0),
    ("analyst_emea", 3),
    ("analyst_apac", 1),
    ("analyst_apac", 4),
    ("auditor", 0),
    ("auditor", 1),
    ("auditor", 2),
    ("auditor", 3),
    ("auditor", 4),
]

_RLS_VALUES = ", ".join(f"('{r}', {k})" for r, k in RLS_POLICIES)


@register(
    "gov_row_level_security",
    f"""
    WITH policies(role, regionkey) AS (VALUES {_RLS_VALUES}),
    vis AS (
        SELECT p.role, c.c_custkey, c.c_acctbal, n.n_nationkey
        FROM customer c
        JOIN nation n ON c_nationkey = n_nationkey
        JOIN policies p ON n.n_regionkey = p.regionkey)
    SELECT role,
           CAST(COUNT(*) AS BIGINT) AS n_visible_customers,
           CAST(COUNT(DISTINCT n_nationkey) AS BIGINT) AS n_visible_nations,
           CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)))
                AS DECIMAL(18,2)) AS DOUBLE) AS visible_acctbal
    FROM vis GROUP BY role
    """,
    doc="governance: row-level security audit — a (role, visible-region) "
    "policy table joins into the customer⋈nation row space and the "
    "audit reports, per role, exactly what that role can see (row "
    "count, nation spread, account-balance exposure). The enforcement "
    "form is the same join with the session's role bound as a literal "
    "(one broadcast hash probe per row, map-side — RLS as Spark "
    "implements it in view predicates); the audit form here runs ALL "
    "roles in one pass, which is also the access-review report a "
    "governance team ships quarterly. Policy table is a LocalRelation "
    "literal (like the reference's country seed, include/table/"
    "country.sql:11-250) and broadcasts; decimal-exact balance sums. "
    "Scale: fact side never shuffles — the aggregate is partial-first "
    "on a 3-value key.",
    tags=("governance",),
)
def gov_row_level_security(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    c = cat.table("customer")
    n = cat.table("nation")
    policies = F.broadcast(
        spark.createDataFrame(RLS_POLICIES, "role string, regionkey int")
    )
    vis = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        policies, F.col("n_regionkey") == F.col("regionkey")
    )
    return vis.groupBy("role").agg(
        F.count(F.lit(1)).alias("n_visible_customers"),
        F.countDistinct("n_nationkey").alias("n_visible_nations"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .cast("double")
        .alias("visible_acctbal"),
    )


# ---------------------------------------------------------------------------
# k-anonymity / l-diversity audit (round 4, third continuation)
# ---------------------------------------------------------------------------

K_ANON_K = 10  # minimum group size before a QI combination is releasable
L_DIVERSE_L = 3  # minimum distinct sensitive values per released group


@register(
    "gov_k_anonymity",
    f"""
    WITH qi AS (
        SELECT c_nationkey,
               CASE WHEN c_acctbal < 0 THEN 'neg'
                    WHEN c_acctbal < 4500 THEN 'mid'
                    ELSE 'high' END AS bal_band,
               c_mktsegment
        FROM customer)
    SELECT c_nationkey, bal_band,
           CAST(COUNT(*) AS BIGINT) AS group_size,
           CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS l_distinct,
           CAST(COUNT(*) >= {K_ANON_K} AS INT) AS k_anonymous,
           CAST(COUNT(DISTINCT c_mktsegment) >= {L_DIVERSE_L} AS INT)
               AS l_diverse
    FROM qi GROUP BY c_nationkey, bal_band
    """,
    doc="governance: k-anonymity / l-diversity release audit (Sweeney "
    "2002; Machanavajjhala et al. 2007) — quasi-identifiers are "
    "(nation, account-balance band); the sensitive attribute is the "
    "market segment. A QI group re-identifies individuals when its "
    "population is under k, and leaks the sensitive value even at size "
    ">= k when all members share it (that is what l-diversity adds): "
    "the report emits group_size, distinct-sensitive-value count, and "
    "both release flags per group, which is exactly the suppression "
    "work-list an anonymization pass consumes (suppress or generalize "
    "the k_anonymous=0 rows, coarsen QIs for l_diverse=0 rows). The "
    "band edges are pure comparisons on stored doubles (no arithmetic, "
    "so both engines band identically). Scale: one partial-first "
    "aggregate on a |nations| x 3 key space; COUNT(DISTINCT) expands "
    "only within each tiny group — no global distinct shuffle.",
    tags=("governance",),
)
def gov_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_tables(spark, sf_dir).table("customer")
    bal_band = (
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 4500, "mid")
        .otherwise("high")
    )
    return (
        c.select("c_nationkey", bal_band.alias("bal_band"), "c_mktsegment")
        .groupBy("c_nationkey", "bal_band")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.countDistinct("c_mktsegment").alias("l_distinct"),
        )
        .select(
            "c_nationkey",
            "bal_band",
            "group_size",
            "l_distinct",
            (F.col("group_size") >= K_ANON_K).cast("int").alias("k_anonymous"),
            (F.col("l_distinct") >= L_DIVERSE_L).cast("int").alias("l_diverse"),
        )
    )
