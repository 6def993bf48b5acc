"""Driver-contract query battery: one entry per operator family of
SURVEY.md §2 (+ the training-data-pipeline ops), each as a
(PySpark DataFrame builder, equivalent DuckDB ANSI-SQL oracle) pair.

Cross-engine exactness rules (the driver hashes values, so floats must be
bit-identical):

* money aggregates run in integer cents (``CAST(round(x*100) AS BIGINT)``) —
  integer sums are order-independent, then a single final division by a
  power of ten is the same IEEE op in both engines;
* dates surface as formatted STRINGS (``dd/MM/yyyy`` ↔ ``%d/%m/%Y``), never
  raw timestamps;
* counts / row_numbers are cast to BIGINT on the Spark side (DuckDB windows
  return BIGINT);
* vector math (cosine) is a sequential left fold in both engines
  (``F.aggregate`` ↔ ``list_reduce``) over double-cast elements, then
  ``round(_, 6)``.

Every Spark column is aliased to the same name as the SQL — the driver's
compare sorts columns by name before hashing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# Eagerly import every operator module the query builders use (r6): the
# function-local `from .operators import X` pattern stays for readability,
# but without this block the FIRST query touching a module pays its import
# (~0.3-0.6 s for the codec-heavy ones) inside the timed region; importing
# here moves that one-time cost to `import aide_spark.queries`, which every
# entry path (bench, driver, tests) performs before any clock starts.
import pandas as _eager_pandas  # noqa: F401,E402 — ~0.4 s driver-side import
# otherwise paid by the first query building an Arrow fixture

from .functions import hashing as _eager_hashing  # noqa: F401,E402
from .functions import vectors as _eager_vectors  # noqa: F401,E402
from .operators import (  # noqa: F401,E402
    audio_codec as _eager_audio_codec,
    boilerplate as _eager_boilerplate,
    bpe as _eager_bpe,
    crawlmeta as _eager_crawlmeta,
    dedup as _eager_dedup,
    formatters as _eager_formatters,
    image_codec as _eager_image_codec,
    jpeg_codec as _eager_jpeg_codec,
    lang_id as _eager_lang_id,
    layout as _eager_layout,
    markdown as _eager_markdown,
    multimodal as _eager_multimodal,
    normalize as _eager_normalize,
    ocr as _eager_ocr,
    packing as _eager_packing,
    paragraphs as _eager_paragraphs,
    pii as _eager_pii,
    quality_model as _eager_quality_model,
    robots as _eager_robots,
    sampling as _eager_sampling,
    scanned as _eager_scanned,
    similarity as _eager_similarity,
    textmetrics as _eager_textmetrics,
    validation as _eager_validation,
    video_codec as _eager_video_codec,
    weblinks as _eager_weblinks,
)
from .sources import binary_ingest as _eager_binary_ingest  # noqa: F401,E402
from .sources import pdf_codec as _eager_pdf_codec  # noqa: F401,E402
from .sources import warc_codec as _eager_warc_codec  # noqa: F401,E402

# name -> (spark_fn, oracle_sql | None)
QUERIES: dict[str, tuple] = {}


def q(name: str, sql: str | None):
    def deco(fn):
        QUERIES[name] = (fn, sql)
        return fn

    return deco


# (applicationId, sf_dir, table) -> unevaluated reader DataFrame. Each
# spark.read.parquet() costs ~80-100 ms of DataSource resolution + footer
# schema inference + py4j EVEN when repeated on the same path (measured;
# Spark caches neither), and the query board makes 40+ such calls per bench
# run. This memoizes the IMMUTABLE logical plan only — no rows are
# materialized and every action still computes from the parquet files; a
# new session (new applicationId) drops the cache.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The memoized reader of ``<sf_dir>/<name>.parquet``.

    Invariant: a table is written at most once per session before it is
    read. The memoized reader holds the file listing and schema of its first
    call, so a table rewritten or appended later in the same session is
    read stale (or from deleted files) until :func:`clear_table_cache`."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    df = _TABLE_CACHE.get(key)
    if df is None:
        if _TABLE_CACHE and next(iter(_TABLE_CACHE))[0] != key[0]:
            _TABLE_CACHE.clear()  # stale session entries
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        _TABLE_CACHE[key] = df
    return df


def clear_table_cache() -> None:
    """Drop every memoized reader: call after rewriting a table that the
    board has already read in this session."""
    _TABLE_CACHE.clear()


def _cents(col) -> Column:
    return F.round(col * 100).cast("long")


# ===========================================================================
# Relational core: scan / filter / aggregate / join / sort / limit / set-op
# ===========================================================================


@q(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
           CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_c,
           CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                    * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS sum_disc_c,
           CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                    * (100 - CAST(round(l_discount*100) AS BIGINT))
                    * (100 + CAST(round(l_tax*100) AS BIGINT))) AS BIGINT) AS sum_charge_c,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01(spark, sf_dir):
    """TPC-H Q1 shape: the A1-A4 aggregate family over a filtered scan.
    Filter + projection push to the parquet scan; partial agg map-side."""
    l = _t(spark, sf_dir, "lineitem")
    qty_c = _cents(F.col("l_quantity"))
    price_c = _cents(F.col("l_extendedprice"))
    disc_p = _cents(F.col("l_discount"))  # integer percent
    tax_p = _cents(F.col("l_tax"))
    return (
        l.where(F.col("l_shipdate") <= F.lit("2000-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty_c).alias("sum_qty_c"),
            F.sum(price_c).alias("sum_base_c"),
            F.sum(price_c * (100 - disc_p)).alias("sum_disc_c"),
            F.sum(price_c * (100 - disc_p) * (100 + tax_p)).alias("sum_charge_c"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@q(
    "q02_join_revenue_by_nation",
    """
    SELECT n.n_name AS nation,
           CAST(sum(CAST(round(l.l_extendedprice*100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount*100) AS BIGINT))) AS BIGINT)
               AS revenue_c,
           count(*) AS n_lines
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q02(spark, sf_dir):
    """J1-shape dimension joins: nation (25 rows) and customer (1.5k rows)
    are broadcast — only the lineitem⋈orders join shuffles. r6 (guide §2.3
    'aggregate before you shuffle'): lineitem is pre-aggregated per order
    BEFORE the join, so the exchange carries one (orderkey, sum, count) row
    per order instead of every wide line row; the per-nation totals are
    sums of the per-order partials — identical integers (order-independent
    BIGINT sums, oracle-pinned). The inner join drops orderless lines
    exactly as the row-level join did."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = _cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount")))
    per_order = (
        l.select("l_orderkey", rev.alias("_r"))
        .groupBy("l_orderkey")
        .agg(F.sum("_r").alias("_rsum"), F.count(F.lit(1)).alias("_nl"))
    )
    return (
        per_order.join(
            # deliberate shuffled-hash join (guide §3.1): the per-order
            # aggregate is the streamed side, the 2-column orders
            # projection the build side — no sort of either side; measured
            # ~15% faster than sort-merge here with identical rows
            o.select("o_orderkey", "o_custkey").hint("SHUFFLE_HASH"),
            per_order.l_orderkey == o.o_orderkey,
        )
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum("_rsum").alias("revenue_c"), F.sum("_nl").alias("n_lines"))
    )


@q(
    "q03_topk_orders",
    """
    SELECT o_orderkey,
           CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                    * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)
               AS revenue_c
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderkey
    ORDER BY revenue_c DESC, o_orderkey
    LIMIT 10
    """,
)
def q03(spark, sf_dir):
    """O2 top-k: global sort + limit (Spark plans TakeOrderedAndProject —
    no full sort materialization). r6 (guide §2.3): lineitem pre-aggregates
    per l_orderkey before the join, so the shuffle carries one narrow row
    per order and the semi-join against orders reuses the aggregation's
    partitioning — measured 1.3 s → 0.7 s at sf0.1 with identical rows."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    rev = _cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount")))
    return (
        l.select("l_orderkey", rev.alias("_r"))
        .groupBy("l_orderkey")
        .agg(F.sum("_r").alias("revenue_c"))
        .join(
            o.select("o_orderkey").hint("SHUFFLE_HASH"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("o_orderkey", "revenue_c")
        .orderBy(F.desc("revenue_c"), "o_orderkey")
        .limit(10)
    )


@q(
    "q04_filter_pushdown",
    """
    SELECT count(*) AS n,
           CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS total_c
    FROM lineitem
    WHERE l_returnflag = 'R' AND l_quantity > 25
    """,
)
def q04(spark, sf_dir):
    """V-family predicate gates: both filters reach the parquet scan
    (PushedFilters) and only 3 columns are read (ReadSchema pruning)."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.where((F.col("l_returnflag") == "R") & (F.col("l_quantity") > 25))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_cents(F.col("l_extendedprice"))).alias("total_c"),
        )
    )


@q(
    "q05_set_union_distinct",
    """
    SELECT user_id FROM events WHERE event_type = 'purchase'
    UNION
    SELECT user_id FROM events WHERE event_type = 'signup'
    """,
)
def q05(spark, sf_dir):
    """§2.8 set ops: UNION (distinct) of two filtered scans."""
    e = _t(spark, sf_dir, "events")
    return (
        e.where(F.col("event_type") == "purchase")
        .select("user_id")
        .union(e.where(F.col("event_type") == "signup").select("user_id"))
        .distinct()
    )


# ===========================================================================
# Operator inventory V/P/M/A/O over documents + events
# ===========================================================================


@q(
    "v6_content_classification",
    """
    SELECT CASE WHEN length(text) < 100 THEN 'invalid'
                WHEN length(text) < 300 THEN 'text'
                ELSE 'hybrid' END AS pdf_type,
           count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY 1
    """,
)
def v6(spark, sf_dir):
    """V6 text/scanned/hybrid ladder as a pure when() classification."""
    d = _t(spark, sf_dir, "documents")
    cls = (
        F.when(F.length("text") < 100, "invalid")
        .when(F.length("text") < 300, "text")
        .otherwise("hybrid")
    )
    return d.groupBy(cls.alias("pdf_type")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("total_chars")
    )


@q(
    "v8_content_check",
    """
    SELECT doc_id,
           length(regexp_replace(text, '^\\s+|\\s+$', '', 'g')) >= 10 AS content_ok,
           (contains(lower(text), 'lorem') OR contains(lower(text), 'data'))
               AS has_bank_indicator
    FROM documents WHERE doc_id < 300
    """,
)
def v8(spark, sf_dir):
    """V8 — bank-identifier content check (_validate_pdf_content,
    apgvb_extractor.py:132-168) driven through the real operator: wrap each
    document's text as a one-page span doc, configure two identifiers, and
    compare the content-length gate + case-insensitive indicator flags."""
    from .operators.validation import validate_pdf_content

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    docs = d.select(
        "doc_id",
        F.lit("X").alias("bank_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("text").alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )
    return validate_pdf_content(docs, identifiers={"X": ["lorem", "DATA"]})


@q(
    "v7_doc_metadata",
    """
    SELECT doc_id,
           coalesce(CASE WHEN doc_id % 10 = 9 OR doc_id % 3 = 0 THEN NULL
                ELSE 'Doc ' || CAST(doc_id AS VARCHAR) END, '') AS title,
           coalesce(CASE WHEN doc_id % 10 = 9 OR doc_id % 2 = 1 THEN NULL
                ELSE upper(lang) || ' Bank' END, '') AS author,
           coalesce(CASE WHEN doc_id % 10 = 9 OR doc_id % 5 <> 0 THEN NULL
                ELSE 'Statement of Account' END, '') AS subject,
           coalesce(CASE WHEN doc_id % 10 = 9 THEN NULL ELSE source END, '') AS producer,
           coalesce(CASE WHEN doc_id % 10 = 9 THEN NULL
                ELSE 'D:2024' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0')
                     || '01120000' END, '') AS creation_date
    FROM documents WHERE doc_id < 300
    """,
)
def v7(spark, sf_dir):
    """V7 — PDF document-info extraction (pdf_validator.py:252-282) driven
    end-to-end: synthesize a PdfReader.metadata-shaped map (absent dict 10%,
    empty-string /Title third, missing keys) then run the columnar probe
    ``extract_pdf_metadata`` — the empty-value truthy drop and absent-key
    NULLs must agree with the oracle's direct CASE computation."""
    from .operators.validation import extract_pdf_metadata

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    no_meta = F.col("doc_id") % 10 == 9
    keys = F.array(
        *[F.lit(k) for k in
          ["/Title", "/Author", "/Subject", "/Producer", "/CreationDate"]]
    )
    vals = F.array(
        F.when(F.col("doc_id") % 3 == 0, F.lit("")).otherwise(
            F.concat(F.lit("Doc "), F.col("doc_id").cast("string"))
        ),
        F.when(F.col("doc_id") % 2 == 0, F.concat(F.upper("lang"), F.lit(" Bank"))),
        F.when(F.col("doc_id") % 5 == 0, F.lit("Statement of Account")),
        F.col("source"),
        F.concat(
            F.lit("D:2024"),
            F.lpad((F.col("doc_id") % 12 + 1).cast("string"), 2, "0"),
            F.lit("01120000"),
        ),
    )
    pdf_meta = F.when(
        ~no_meta,
        F.map_filter(F.map_from_arrays(keys, vals), lambda k, v: v.isNotNull()),
    )
    docs = d.select("doc_id", pdf_meta.alias("pdf_meta"))
    out = extract_pdf_metadata(docs)
    # NULL (absent field) surfaces as '' for the hash compare — tuple sorts
    # cannot order None; the NULL-vs-set distinction is pinned in
    # tests/test_validation.py::test_v7_pdf_metadata_parity.
    return out.select(
        "doc_id",
        *[F.coalesce(F.col(c), F.lit("")).alias(c)
          for c in ("title", "author", "subject", "producer", "creation_date")],
    )


@q(
    "p3_boilerplate_filter",
    """
    SELECT lang, count(*) AS kept
    FROM documents
    WHERE NOT (contains(text, 'merge') OR contains(text, 'slow') OR contains(text, 'batch'))
    GROUP BY lang
    """,
)
def p3(spark, sf_dir):
    """P3 keyword skip-list (boilerplate strip) as a negated contains filter."""
    d = _t(spark, sf_dir, "documents")
    bad = (
        F.col("text").contains("merge")
        | F.col("text").contains("slow")
        | F.col("text").contains("batch")
    )
    return d.where(~bad).groupBy("lang").agg(F.count(F.lit(1)).alias("kept"))


@q(
    "p4_start_detection",
    """
    SELECT doc_id, regexp_matches(text, '^the\\s+\\w+\\s+\\w+') AS is_start
    FROM documents WHERE doc_id < 200
    """,
)
def p4(spark, sf_dir):
    """P4 transaction-start regex detection (rlike boolean column)."""
    d = _t(spark, sf_dir, "documents")
    return d.where(F.col("doc_id") < 200).select(
        "doc_id", F.col("text").rlike(r"^the\s+\w+\s+\w+").alias("is_start")
    )


@q(
    "p2_tokenization",
    """
    SELECT doc_id, CAST(generate_subscripts(toks, 1) - 1 AS BIGINT) AS pos,
           unnest(toks) AS token
    FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
          FROM documents WHERE doc_id < 40) t
    """,
)
def p2(spark, sf_dir):
    """P2 line/token explode with positions (posexplode)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.where(F.col("doc_id") < 40)
        .select("doc_id", F.posexplode(F.split("text", r"\s+")).alias("pos", "token"))
        .select("doc_id", F.col("pos").cast("long").alias("pos"), "token")
    )


@q(
    "p5_segmentation_window",
    """
    SELECT user_id, seg, count(*) AS n_events,
           CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_c
    FROM (
      SELECT user_id, value,
             CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS seg
      FROM events) t
    GROUP BY user_id, seg
    """,
)
def p5(spark, sf_dir):
    """P5 sessionization: running sum(is_start) over a per-key ordered window
    then per-segment aggregation — the segmentation primitive of the parsers."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    seg = F.sum((F.col("event_type") == "signup").cast("int")).over(w).alias("seg")
    return (
        e.select("user_id", "value", seg)
        .groupBy("user_id", "seg")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_cents(F.col("value"))).alias("value_c"),
        )
    )


@q(
    "p6_regex_extract",
    """
    SELECT event_type,
           CAST(sum(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT)) AS BIGINT) AS k_sum,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def p6(spark, sf_dir):
    """P6 amount extraction via regexp_extract + cast."""
    e = _t(spark, sf_dir, "events")
    k = F.regexp_extract("props", r'"k": (\d+)', 1).cast("long")
    return e.groupBy("event_type").agg(
        F.sum(k).alias("k_sum"), F.count(F.lit(1)).alias("n")
    )


@q(
    "p8_sign_conversion",
    """
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'purchase'
                         THEN -CAST(round(value*100) AS BIGINT)
                         ELSE CAST(round(value*100) AS BIGINT) END) AS BIGINT) AS net_c
    FROM events GROUP BY user_id
    """,
)
def p8(spark, sf_dir):
    """P8 Dr/Cr sign conversion: when(type, -amt).otherwise(amt)."""
    e = _t(spark, sf_dir, "events")
    c = _cents(F.col("value"))
    signed = F.when(F.col("event_type") == "purchase", -c).otherwise(c)
    return e.groupBy("user_id").agg(F.sum(signed).alias("net_c"))


@q(
    "p10_lag_classification",
    """
    SELECT event_id,
           CASE WHEN CAST(round(value*100) AS BIGINT)
                     - lag(CAST(round(value*100) AS BIGINT), 1, CAST(0 AS BIGINT))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) < 0
                THEN 'Debit' ELSE 'Credit' END AS txn_type
    FROM events
    """,
)
def p10(spark, sf_dir):
    """P10 — the APGVB balance-mathematics classifier as lag() over an
    ordered per-key window (change<0 ⇒ Debit, else Credit incl. zero)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    c = _cents(F.col("value"))
    change = c - F.lag(c, 1, 0).over(w)
    return e.select(
        "event_id",
        F.when(change < 0, F.lit("Debit")).otherwise(F.lit("Credit")).alias("txn_type"),
    )


@q(
    "p11_serial_numbering",
    """
    SELECT user_id, event_id,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS s_no
    FROM events
    """,
)
def p11(spark, sf_dir):
    """P11 serial numbering across pages = row_number per key."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id", "event_id", F.row_number().over(w).cast("long").alias("s_no")
    )


@q(
    "p12_date_validation",
    """
    SELECT event_id, strftime(ts, '%d-%m-%Y') AS ds,
           (length(strftime(ts, '%d-%m-%Y')) = 10 AND
            length(strftime(ts, '%d-%m-%Y')) - length(replace(strftime(ts, '%d-%m-%Y'), '-', '')) = 2)
             AS is_valid
    FROM events WHERE event_id < 500
    """,
)
def p12(spark, sf_dir):
    """P12 date-format validation: len==10 and count('-')==2, string-only."""
    e = _t(spark, sf_dir, "events")
    ds = F.date_format("ts", "dd-MM-yyyy")
    valid = (F.length(ds) == 10) & (
        F.length(ds) - F.length(F.regexp_replace(ds, "-", "")) == 2
    )
    return e.where(F.col("event_id") < 500).select(
        "event_id", ds.alias("ds"), valid.alias("is_valid")
    )


@q(
    "p14_comma_strip_cast",
    """
    SELECT event_type,
           CAST(sum(CAST(regexp_replace(props, '[^0-9]', '', 'g') AS BIGINT)) AS BIGINT) AS digit_sum
    FROM events GROUP BY event_type
    """,
)
def p14(spark, sf_dir):
    """P14 comma-strip numeric cast: regexp_replace + cast."""
    e = _t(spark, sf_dir, "events")
    v = F.regexp_replace("props", "[^0-9]", "").cast("long")
    return e.groupBy("event_type").agg(F.sum(v).alias("digit_sum"))


@q(
    "m_metadata_probe",
    """
    SELECT CAST(regexp_extract(source, 'src(\\d+)', 1) AS BIGINT) AS src_id,
           count(*) AS n, min(lang) AS min_lang, max(lang) AS max_lang
    FROM documents GROUP BY 1
    """,
)
def m_probe(spark, sf_dir):
    """M1-M12 metadata regex probes + A6 string min/max in one shape."""
    d = _t(spark, sf_dir, "documents")
    sid = F.regexp_extract("source", r"src(\d+)", 1).cast("long")
    return d.groupBy(sid.alias("src_id")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("lang").alias("min_lang"),
        F.max("lang").alias("max_lang"),
    )


@q(
    "a5_positional_first_last",
    """
    SELECT DISTINCT user_id,
           first_value(CAST(round(value*100) AS BIGINT))
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS closing_c,
           last_value(CAST(round(value*100) AS BIGINT))
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS opening_c
    FROM events
    """,
)
def a5(spark, sf_dir):
    """A5 positional opening/closing: first/last over the full-frame window
    (the Union/Canara inverted opening-closing quirk shape)."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    c = _cents(F.col("value"))
    return e.select(
        "user_id",
        F.first(c).over(w).alias("closing_c"),
        F.last(c).over(w).alias("opening_c"),
    ).distinct()


@q(
    "a6_string_date_minmax",
    """
    SELECT event_type, min(strftime(ts, '%d/%m/%Y')) AS from_date,
           max(strftime(ts, '%d/%m/%Y')) AS to_date
    FROM events GROUP BY event_type
    """,
)
def a6(spark, sf_dir):
    """A6 — the lexicographic STRING date min/max quirk (never to_date)."""
    e = _t(spark, sf_dir, "events")
    ds = F.date_format("ts", "dd/MM/yyyy")
    return e.groupBy("event_type").agg(
        F.min(ds).alias("from_date"), F.max(ds).alias("to_date")
    )


@q(
    "a2_conditional_sums",
    """
    SELECT user_id,
           CAST(sum(CASE WHEN event_type IN ('purchase','error')
                         THEN CAST(round(value*100) AS BIGINT) END) AS BIGINT) AS debits_c,
           CAST(sum(CASE WHEN event_type NOT IN ('purchase','error')
                         THEN CAST(round(value*100) AS BIGINT) END) AS BIGINT) AS credits_c
    FROM events GROUP BY user_id
    """,
)
def a2(spark, sf_dir):
    """A2 conditional debit/credit totals."""
    e = _t(spark, sf_dir, "events")
    c = _cents(F.col("value"))
    is_dr = F.col("event_type").isin("purchase", "error")
    return e.groupBy("user_id").agg(
        F.sum(F.when(is_dr, c)).alias("debits_c"),
        F.sum(F.when(~is_dr, c)).alias("credits_c"),
    )


@q(
    "o1_stable_sort_limit",
    """
    SELECT event_id FROM events
    ORDER BY date_trunc('day', ts), event_id LIMIT 100
    """,
)
def o1(spark, sf_dir):
    """O1 date-sorted stable ordering (secondary key = input order)."""
    e = _t(spark, sf_dir, "events")
    return e.orderBy(F.date_trunc("day", F.col("ts")), "event_id").select(
        "event_id"
    ).limit(100)


@q(
    "scalar_date_convert",
    """
    SELECT event_id,
           concat(lpad(string_split(strftime(ts, '%d-%m-%Y'), '-')[1], 2, '0'), '/',
                  lpad(string_split(strftime(ts, '%d-%m-%Y'), '-')[2], 2, '0'), '/',
                  string_split(strftime(ts, '%d-%m-%Y'), '-')[3]) AS converted
    FROM events WHERE event_id < 300
    """,
)
def scalar_date(spark, sf_dir):
    """§2.9 date conversion by string surgery with zfill (transaction_
    formatter.py:11-55 — deliberately NOT to_date)."""
    e = _t(spark, sf_dir, "events")
    ds = F.date_format("ts", "dd-MM-yyyy")
    p = F.split(ds, "-")
    conv = F.concat(
        F.lpad(F.element_at(p, 1), 2, "0"), F.lit("/"),
        F.lpad(F.element_at(p, 2), 2, "0"), F.lit("/"),
        F.element_at(p, 3),
    )
    return e.where(F.col("event_id") < 300).select("event_id", conv.alias("converted"))


@q(
    "scalar_clean_amount",
    """
    SELECT event_id,
           CAST(round(CAST(regexp_replace(concat(CAST(value AS VARCHAR), ' (Dr)'),
                           '\\s*\\(?\\s*(DR|dr|Dr|De|DE|de|CR|cr|Cr)\\s*\\)?\\s*', '', 'g')
                      AS DOUBLE) * 100) AS BIGINT) AS cleaned_c
    FROM events WHERE event_id < 300
    """,
)
def scalar_clean(spark, sf_dir):
    """§2.9 clean_amount: strip (Dr)/(Cr)/(De) decorations then cast
    (transaction_formatter.py:58-83)."""
    e = _t(spark, sf_dir, "events")
    s = F.concat(F.col("value").cast("string"), F.lit(" (Dr)"))
    cleaned = F.regexp_replace(
        s, r"\s*\(?\s*(DR|dr|Dr|De|DE|de|CR|cr|Cr)\s*\)?\s*", ""
    ).cast("double")
    return e.where(F.col("event_id") < 300).select(
        "event_id", _cents(cleaned).alias("cleaned_c")
    )


_S6_CLEAN = r"\s*\(?\s*(DR|dr|Dr|De|DE|de|CR|cr|Cr)\s*\)?\s*"


@q(
    "s6_workbook_view",
    f"""
    WITH t AS (
      SELECT o_custkey AS doc_id,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS ord,
             strftime(o_orderdate, '%d/%m/%Y') AS d,
             o_orderpriority AS description,
             CASE WHEN o_orderstatus = 'F'
                  THEN concat(printf('%.2f', o_totalprice), ' (Dr)') ELSE '' END AS debit_raw,
             CASE WHEN o_orderstatus <> 'F'
                  THEN concat(printf('%.2f', o_totalprice), ' (Cr)') ELSE '' END AS credit_raw,
             concat(printf('%.2f', o_totalprice), 'Cr') AS bal_raw
      FROM orders WHERE o_orderkey < 2000)
    SELECT doc_id, CAST(ord + 1 AS INT) AS row_num,
           replace(d, '/', '-') AS txn_date,
           replace(d, '/', '-') AS value_date,
           description,
           regexp_replace(debit_raw, '{_S6_CLEAN}', '', 'g') AS debit,
           regexp_replace(credit_raw, '{_S6_CLEAN}', '', 'g') AS credit,
           regexp_replace(bal_raw, '{_S6_CLEAN}', '', 'g') AS balance,
           regexp_replace(debit_raw, '{_S6_CLEAN}', '', 'g') <> '' AS debit_red,
           regexp_replace(credit_raw, '{_S6_CLEAN}', '', 'g') <> '' AS credit_green
    FROM t
    """,
)
def s6_workbook_view(spark, sf_dir):
    """S6 — the Excel worksheet as data rows (excel_formatter.py:65-162):
    construct TRANSACTIONS_OUT-shaped rows from orders, run the real
    workbook_view operator (display formatting, empty-cell branch, font
    flags); the oracle recomputes every cell directly."""
    from .operators.formatters import workbook_view

    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") < 2000)
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    amt = F.format_string("%.2f", F.col("o_totalprice"))
    txns = o.select(
        F.col("o_custkey").alias("doc_id"),
        F.row_number().over(w).cast("int").alias("order"),
        F.date_format("o_orderdate", "dd/MM/yyyy").alias("Date"),
        F.col("o_orderpriority").alias("Remarks"),
        F.when(F.col("o_orderstatus") == "F", F.concat(amt, F.lit(" (Dr)")))
        .otherwise(F.lit(""))
        .alias("Debit"),
        F.when(F.col("o_orderstatus") != "F", F.concat(amt, F.lit(" (Cr)")))
        .otherwise(F.lit(""))
        .alias("Credit"),
        F.concat(amt, F.lit("Cr")).alias("Balance"),
        F.lit(None).cast("string").alias("Amount"),
        F.lit("").alias("Transaction_Type"),
    )
    return workbook_view(txns)


@q(
    "j1_dispatch_by_dimension",
    """
    SELECT CASE WHEN r.r_name IN ('AMERICA','EUROPE') THEN 'western_parser'
                WHEN r.r_name = 'ASIA' THEN 'asia_parser'
                ELSE 'default_parser' END AS extractor,
           count(*) AS n_customers,
           CAST(sum(CAST(round(c.c_acctbal*100) AS BIGINT)) AS BIGINT) AS acctbal_c
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1
    """,
)
def j1(spark, sf_dir):
    """J1 bank_id→extractor dispatch: broadcast the tiny dimension chain and
    dispatch with when/otherwise (no reflection, SURVEY.md §2.3)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    label = (
        F.when(F.col("r_name").isin("AMERICA", "EUROPE"), "western_parser")
        .when(F.col("r_name") == "ASIA", "asia_parser")
        .otherwise("default_parser")
    )
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(label.alias("extractor"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(_cents(F.col("c_acctbal"))).alias("acctbal_c"),
        )
    )


@q(
    "j2_literal_map_lookup",
    """
    SELECT coalesce(CASE n_name WHEN 'INDIA' THEN 'IN' WHEN 'CHINA' THEN 'CN'
                                WHEN 'JAPAN' THEN 'JP' END, 'XX') AS code,
           count(*) AS n
    FROM nation GROUP BY 1
    """,
)
def j2(spark, sf_dir):
    """J2 legacy name→id literal map with default (create_map + coalesce)."""
    n = _t(spark, sf_dir, "nation")
    m = F.create_map(
        F.lit("INDIA"), F.lit("IN"), F.lit("CHINA"), F.lit("CN"),
        F.lit("JAPAN"), F.lit("JP"),
    )
    return n.groupBy(
        F.coalesce(m[F.col("n_name")], F.lit("XX")).alias("code")
    ).agg(F.count(F.lit(1)).alias("n"))


# ===========================================================================
# Training-data pipeline operators: dedup / similarity / text analysis
# (first-class at 100 TB scale — each with a DuckDB oracle where exact)
# ===========================================================================

from .functions import hashing as H  # noqa: E402
from .functions import vectors as V  # noqa: E402

_SHINGLE_SQL = """
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(regexp_split_to_array(lower(text), '\\s+')) - 2, 1) + 1),
               i -> array_to_string(list_slice(regexp_split_to_array(lower(text), '\\s+'), i, i + 2), ' ')
             )) AS sh
      FROM documents WHERE doc_id < 300
"""


@q(
    "dedup_exact",
    """
    SELECT md5(text) AS content_hash, count(*) AS n_copies,
           min(doc_id) AS keeper_doc
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on content. At scale this is one shuffle on
    the hash; the keeper is the min doc_id (deterministic survivor)."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy(F.md5(F.col("text")).alias("content_hash")).agg(
        F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("keeper_doc")
    )


_LSH_PAIRS_SQL = f"""
    docs AS ({_SHINGLE_SQL}),
    sigs AS (
      SELECT doc_id,
             list_transform(range(0, 8),
               h -> list_min(list_transform(sh, s -> md5(CAST(h AS VARCHAR) || ':' || s)))) AS sig
      FROM docs),
    bands AS (
      SELECT doc_id,
             unnest(list_transform(range(0, 4),
               b -> md5(CAST(b AS VARCHAR) || '|' ||
                        array_to_string(list_slice(sig, b*2 + 1, b*2 + 2), ',')))) AS band
      FROM sigs),
    pairs AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id)
"""


@q(
    "dedup_minhash_lsh",
    f"""
    WITH {_LSH_PAIRS_SQL}
    SELECT d1, d2 FROM pairs
    """,
)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidates: shingle → 8-hash min signature →
    4 bands of 2 → bucket grouping → BOUNDED intra-bucket pair expansion.

    Scale shape (operators/dedup.py): signatures computed ONCE per doc as
    min() aggregates (CollapseProject-safe), ONE shuffle on the band key,
    and hot buckets sub-split by a secondary id hash before expansion so no
    bucket ever goes quadratic. Buckets at test SF sit far below the cap,
    so the uncapped SQL oracle sees identical pairs (the cap's behavior is
    pinned separately in tests/test_plans.py::test_lsh_hot_bucket_bounded)."""
    from .operators import dedup as D

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    bands = D.minhash_band_table(d, n_hashes=8, n_bands=4, shingle_n=3)
    return D.lsh_candidate_pairs(bands, max_bucket_size=64)


@q(
    "dedup_components",
    f"""
    WITH RECURSIVE {_LSH_PAIRS_SQL},
    edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
              UNION SELECT d2, d1 FROM pairs),
    reach(node, label) AS (
      SELECT doc_id, doc_id FROM documents WHERE doc_id < 300
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node)
    SELECT node AS doc_id, min(label) AS component
    FROM reach GROUP BY node
    """,
)
def dedup_components(spark, sf_dir):
    """Duplicate-cluster assembly: LSH candidate pairs → connected
    components by iterative min-label propagation (operators/dedup.py:
    connected_components; O(diameter) rounds, one join + one groupBy each,
    driver loop only for the convergence fixpoint — the iterative-algorithm
    shape). component = min doc_id of the cluster, the deterministic
    canonical survivor; singletons keep their own id. Oracle: DuckDB
    recursive-CTE transitive closure over the same pair table."""
    from .operators import dedup as D

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    bands = D.minhash_band_table(d, n_hashes=8, n_bands=4, shingle_n=3)
    pairs = D.lsh_candidate_pairs(bands, max_bucket_size=64)
    return D.connected_components(pairs, d, "doc_id")


@q(
    "dedup_ngram_jaccard",
    f"""
    WITH docs AS ({_SHINGLE_SQL}),
    ex AS (SELECT doc_id, unnest(sh) AS s FROM docs),
    sizes AS (SELECT doc_id, len(sh) AS n FROM docs),
    common AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT d1, d2,
           round(CAST(c AS DOUBLE) / (s1.n + s2.n - c), 6) AS jaccard
    FROM common JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
    WHERE CAST(c AS DOUBLE) / (s1.n + s2.n - c) >= 0.2
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """n-gram Jaccard near-dup: shingle-explode self-join → common counts →
    |A∩B|/|A∪B| ≥ 0.2. The shingle join is the scalable path (never the
    O(n²) doc cross join)."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    docs = d.select("doc_id", H.word_shingles(F.col("text"), 3).alias("sh"))
    ex = docs.select("doc_id", F.explode("sh").alias("s"))
    sizes = docs.select("doc_id", F.size("sh").alias("n"))
    a, b = ex.alias("a"), ex.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    jac = F.col("c").cast("double") / (F.col("n1") + F.col("n2") - F.col("c"))
    return (
        common.join(s1, "d1").join(s2, "d2")
        .where(jac >= 0.2)
        .select("d1", "d2", F.round(jac, 6).alias("jaccard"))
    )


_SIMHASH_FP_SQL = """
      SELECT doc_id,
             list_reduce(list_transform(range(0, 32), b ->
               CASE WHEN list_sum(list_transform(
                      list_transform(regexp_split_to_array(lower(text), '\\s+'),
                                     t -> CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)),
                      v -> ((v >> b) & 1) * 2 - 1)) > 0
                    THEN (CAST(1 AS BIGINT) << b) ELSE 0 END),
               (x, y) -> x + y) AS simhash
      FROM documents WHERE doc_id < 200
"""


@q("dedup_simhash", f"SELECT doc_id, simhash FROM ({_SIMHASH_FP_SQL}) t")
def dedup_simhash(spark, sf_dir):
    """SimHash fingerprint: per-bit majority vote over token hashes — near-
    dups differ in few bits (Hamming ball join at scale: see
    dedup_simhash_hamming below). Computed via the explode+aggregate form
    (each token hashed once; the expression form re-hashes per bit)."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    return H.simhash32_table(d)


@q(
    "dedup_simhash_hamming",
    f"""
    WITH fp AS ({_SIMHASH_FP_SQL})
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(bit_count(CAST(xor(a.simhash, b.simhash) AS BIGINT)) AS BIGINT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(CAST(xor(a.simhash, b.simhash) AS BIGINT)) <= 3
    """,
)
def dedup_simhash_hamming(spark, sf_dir):
    """SimHash Hamming-ball join: all pairs within Hamming distance 3 of
    each other's 32-bit fingerprint, via the pigeonhole banded equi-join
    (4 bands of 8 bits — a pair differing in ≤3 bits shares ≥1 band), then
    exact popcount verify on candidates only. The oracle is the exact
    all-pairs join (cheap at 200 docs); the banded plan must reproduce it
    EXACTLY because max_distance=3 ≤ n_bands-1 and test-SF buckets sit far
    below the sub-split cap (hot-band bound pinned in
    tests/test_plans.py::test_simhash_hot_band_bounded)."""
    from .operators.dedup import simhash_hamming_pairs

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    fps = H.simhash32_table(d)
    return simhash_hamming_pairs(fps, max_distance=3, n_bands=4, max_bucket_size=64)


@q(
    "text_fingerprint",
    """
    SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
    FROM documents WHERE doc_id < 300
    """,
)
def text_fingerprint(spark, sf_dir):
    """Normalized document fingerprint (lower + collapse whitespace + md5)."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return d.select("doc_id", H.normalized_fingerprint(F.col("text")).alias("fp"))


_MARKERS = {"en": " the ", "de": " data ", "es": " query "}

_LANG_SCORE_SQL = " , ".join(
    f"CAST((length(text) - length(replace(text, '{w}', ''))) / {len(w)} AS BIGINT) AS s_{lang}"
    for lang, w in _MARKERS.items()
)


@q(
    "text_lang_id",
    f"""
    SELECT doc_id,
           CASE WHEN s_en >= s_de AND s_en >= s_es THEN 'en'
                WHEN s_de >= s_es THEN 'de' ELSE 'es' END AS predicted
    FROM (SELECT doc_id, {_LANG_SCORE_SQL} FROM documents WHERE doc_id < 300) t
    """,
)
def text_lang_id(spark, sf_dir):
    """Language-ID heuristic: marker-token frequency argmax (the n-gram
    heuristic shape; markers are corpus-specific here)."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    scores = {
        lang: ((F.length("text") - F.length(F.regexp_replace("text", w, ""))) / len(w)).cast("long")
        for lang, w in _MARKERS.items()
    }
    pred = (
        F.when((scores["en"] >= scores["de"]) & (scores["en"] >= scores["es"]), "en")
        .when(scores["de"] >= scores["es"], "de")
        .otherwise("es")
    )
    return d.select("doc_id", pred.alias("predicted"))


def _lang_ngram_sql() -> str:
    """DuckDB twin of lang_id.classify_language: identical normalization,
    trigram explode, inline profile constants, integer scores and argmax
    CASE — all generated from the same lang_id module constants."""
    from aide_spark.operators import lang_id as L

    score_cols = ", ".join(
        f"CAST(coalesce(sum(CASE WHEN lang = '{lang}' THEN w END), 0) AS BIGINT)"
        f" AS s_{lang}"
        for lang in L.LANGS
    )
    coalesced = ", ".join(
        f"CAST(coalesce(s_{lang}, 0) AS BIGINT) AS s_{lang}" for lang in L.LANGS
    )
    return f"""
    WITH norm AS (
      SELECT doc_id,
             ' ' || trim(regexp_replace(lower(text), '[^a-z]+', ' ', 'g')) || ' ' AS t
      FROM documents WHERE doc_id < 300
    ),
    grams AS (
      SELECT doc_id,
             substr(t, CAST(unnest(generate_series(1, length(t) - 2)) AS INT), 3) AS g
      FROM norm WHERE length(t) >= 3
    ),
    prof(g, lang, w) AS (VALUES {L.profile_values_sql()}),
    per AS (
      SELECT doc_id, {score_cols}
      FROM grams JOIN prof USING (g) GROUP BY doc_id
    )
    SELECT doc_id, {L.oracle_case_sql()} AS predicted
    FROM (
      SELECT d.doc_id, {coalesced}
      FROM (SELECT doc_id FROM documents WHERE doc_id < 300) d
      LEFT JOIN per USING (doc_id)
    ) s
    """


@q("text_lang_id_ngram", _lang_ngram_sql())
def text_lang_id_ngram(spark, sf_dir):
    """REAL language identification (r4 VERDICT #2): Cavnar–Trenkle
    character-trigram profile classifier — broadcast profile join +
    map-side-combinable integer score sums + argmax, 100% columnar
    (aide_spark/operators/lang_id.py; accuracy floor pinned in
    tests/test_lang_id.py)."""
    from aide_spark.operators.lang_id import classify_language

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return classify_language(d)


@q(
    "text_quality_score",
    """
    SELECT doc_id,
           CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens,
           round(CAST(length(text) AS DOUBLE) / len(regexp_split_to_array(text, '\\s+')), 6)
             AS avg_token_len,
           length(text) >= 200 AS is_quality
    FROM documents
    """,
)
def text_quality(spark, sf_dir):
    """Quality scoring: token count, mean token length, length gate."""
    d = _t(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", r"\s+"))
    return d.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        F.round(F.length("text").cast("double") / n_tok, 6).alias("avg_token_len"),
        (F.length("text") >= 200).alias("is_quality"),
    )


_STOPWORDS = ["the", "a", "an", "of", "to", "in", "and", "is", "for", "on", "with"]


@q(
    "text_quality_full",
    f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens,
           CAST(floor(CAST(len(regexp_extract_all(text, '[.,;:!?]', 0)) AS DOUBLE)
                      * 1000000.0 / greatest(length(text), 1)) AS BIGINT)
             AS punct_ppm,
           CAST(floor(CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                           t -> list_contains({_STOPWORDS!r}, t))) AS DOUBLE)
                      * 1000000.0
                      / greatest(len(regexp_split_to_array(text, '\\s+')), 1)) AS BIGINT)
             AS stopword_ppm
    FROM documents
    """,
)
def text_quality_full(spark, sf_dir):
    """Full quality-score surface (SURVEY's length/punct/stopword spec):
    char/token counts plus punctuation and stopword ratios. Ratios surface
    as floor-ppm BIGINTs — both engines convert the same integers to the
    same doubles, multiply/divide in the same order, and floor has no
    round-half tie, so the driver's value hash is exact. 100% columnar:
    one split, one regexp_extract_all, one higher-order filter (1-arg
    lambda, per the HOF arity trap)."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), r"\s+")
    raw_toks = F.split(F.col("text"), r"\s+")
    punct = F.size(F.regexp_extract_all("text", F.lit("[.,;:!?]"), 0))
    stop = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS)))
    ppm = lambda num, den: F.floor(  # noqa: E731
        num.cast("double") * 1000000.0 / F.greatest(den, F.lit(1))
    ).cast("long")
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.size(raw_toks).cast("long").alias("n_tokens"),
        ppm(punct, F.length("text")).alias("punct_ppm"),
        ppm(stop, F.size(raw_toks)).alias("stopword_ppm"),
    )


@q(
    "text_token_count",
    """
    SELECT doc_id,
           CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+', 0)) AS BIGINT) AS alpha_tokens
    FROM documents
    """,
)
def text_token_count(spark, sf_dir):
    """Token counting: whitespace split + regex token extraction (BPE-ish
    alpha runs)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", r"\s+")).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+"), 0)).cast("long").alias("alpha_tokens"),
    )


@q(
    "ann_cosine_topk",
    f"""
    WITH qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, {V.duck_cosine('embedding', 'q')} AS sim
    FROM embeddings, qv WHERE vec_id <> 0
    ORDER BY sim DESC, vec_id LIMIT 10
    """,
)
def ann_topk(spark, sf_dir):
    """Brute-force cosine top-k (the ANN baseline): broadcast the query
    vector, fold the dot product JVM-side, TakeOrderedAndProject."""
    e = _t(spark, sf_dir, "embeddings")
    qv = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    return (
        e.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select("vec_id", V.cosine(F.col("embedding"), F.col("q")).alias("sim"))
        .orderBy(F.desc("sim"), "vec_id")
        .limit(10)
    )


@q(
    "ann_lsh_buckets",
    """
    SELECT vec_id,
           list_reduce(list_transform(range(0, 8), b ->
             CASE WHEN list_reduce(list_transform(
                         list_zip(embedding, range(1, len(embedding) + 1)),
                         p -> CAST(p[1] AS DOUBLE) *
                              (CAST(CAST(concat('0x', substr(md5(CAST(b AS VARCHAR) || ',' || CAST(p[2] AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE) / 2147483648.0 - 1.0)),
                       (x, y) -> x + y) > 0
                  THEN (CAST(1 AS BIGINT) << b) ELSE 0 END),
             (x, y) -> x + y) AS bucket
    FROM embeddings WHERE vec_id < 300
    """,
)
def ann_lsh(spark, sf_dir):
    """Random-hyperplane LSH buckets (the ANN scale path): 8 sign bits from
    md5-derived pseudo-random planes; at scale, search = bucket equi-join
    instead of a cross join."""
    e = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 300)
    v = F.col("embedding")

    def plane(b, j):  # deterministic pseudo-random plane component in [-1, 1)
        h = F.conv(
            F.substring(
                F.md5(F.concat(b.cast("string"), F.lit(","), j.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        return h.cast("double") / F.lit(2147483648.0) - 1.0

    def dot_plane(b):
        prods = F.zip_with(
            v,
            F.sequence(F.lit(1), F.size(v)),
            lambda x, j: x.cast("double") * plane(b, j),
        )
        return F.aggregate(prods, F.lit(0.0), lambda acc, p: acc + p)

    bucket = F.aggregate(
        F.sequence(F.lit(0), F.lit(7)),
        F.lit(0).cast("long"),
        lambda acc, b: acc
        + F.when(dot_plane(b) > 0, F.pow(F.lit(2.0), b.cast("double")).cast("long"))
        .otherwise(F.lit(0).cast("long")),
    )
    return e.select("vec_id", bucket.alias("bucket"))


@q(
    "dedup_embedding_cosine",
    f"""
    SELECT a.vec_id AS v1, b.vec_id AS v2,
           {V.duck_cosine('a.embedding', 'b.embedding')} AS sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id < 120 AND b.vec_id < 120
      AND {V.duck_cosine('a.embedding', 'b.embedding')} > 0.15
    """,
)
def dedup_embedding(spark, sf_dir):
    """All-pairs embedding cosine over a BOUNDED window — a brute-force demo
    only (the `v1 < v2` join is a BroadcastNestedLoopJoin = cartesian by
    construction). The scale path is `dedup_embedding_verify` below, which
    consumes a candidate-pair table through equi-joins."""
    e = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 120)
    a = e.select(F.col("vec_id").alias("v1"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("v2"), F.col("embedding").alias("eb"))
    sim = V.cosine(F.col("ea"), F.col("eb"))
    return (
        a.join(b, F.col("v1") < F.col("v2"))
        .where(sim > 0.15)
        .select("v1", "v2", sim.alias("sim"))
    )


@q(
    "dedup_embedding_verify",
    f"""
    WITH cand AS (
      SELECT vec_id AS d1, vec_id + 7 AS d2 FROM embeddings WHERE vec_id < 200)
    SELECT c.d1, c.d2, {V.duck_cosine('a.embedding', 'b.embedding')} AS sim
    FROM cand c
    JOIN embeddings a ON a.vec_id = c.d1
    JOIN embeddings b ON b.vec_id = c.d2
    """,
)
def dedup_embedding_verify(spark, sf_dir):
    """Candidate-pair cosine verification (operators/dedup.py) — the verify
    stage AFTER LSH/IVF discovery: joins a (d1, d2) pair table to the
    embeddings by equi-join only; tests/test_plans.py asserts the physical
    plan contains no nested-loop join."""
    from .operators.dedup import cosine_verify_pairs

    e = _t(spark, sf_dir, "embeddings")
    cand = e.where(F.col("vec_id") < 200).select(
        F.col("vec_id").alias("d1"), (F.col("vec_id") + 7).alias("d2")
    )
    return cosine_verify_pairs(cand, e)


@q(
    "streaming_tumbling_window",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS window_start,
           event_type, count(*) AS n,
           CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_c
    FROM events GROUP BY 1, 2
    """,
)
def streaming_window(spark, sf_dir):
    """§2.11 event-time tumbling window (batch-equivalent of the Structured
    Streaming windowed agg in aide_spark.streaming)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(_cents(F.col("value"))).alias("value_c"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:00").alias("window_start"),
            "event_type", "n", "value_c",
        )
    )


# ===========================================================================
# Flagship end-to-end: synthesize Union-grammar statement lines from orders,
# parse them back with the extraction expressions, aggregate the summary —
# scan → regex parse → window → quirky positional aggregates, ALL with a
# DuckDB oracle. (The spans-table pipeline itself is reference-verified in
# tests/test_parity.py; this exercises the same operator chain on testdata.)
# ===========================================================================

_E2E_PARSE_AGG_SQL = """
    parsed AS (
      SELECT account, s_no,
             regexp_extract(line, '^(\\d+)\\s+(\\d{1,2}/\\d{1,2}/\\d{4})\\s+([A-Z0-9]+)', 2) AS dt,
             CAST(round(CAST(regexp_extract_all(line, '(\\d+\\.?\\d*)\\s*\\((Dr|Cr)\\)', 1)[1] AS DOUBLE) * 100) AS BIGINT)
               * (CASE WHEN regexp_extract_all(line, '(\\d+\\.?\\d*)\\s*\\((Dr|Cr)\\)', 2)[1] = 'Dr' THEN -1 ELSE 1 END)
               AS amt_c,
             CAST(round(CAST(list_last(regexp_extract_all(line, '(\\d+\\.?\\d*)\\s*\\((Dr|Cr)\\)', 1)) AS DOUBLE) * 100) AS BIGINT)
               AS bal_c
      FROM lines)
    SELECT account,
           arg_max(bal_c, s_no) AS opening_c,
           arg_min(bal_c, s_no) AS closing_c,
           CAST(coalesce(sum(CASE WHEN amt_c < 0 THEN amt_c END), 0) AS BIGINT) AS debits_c,
           CAST(coalesce(sum(CASE WHEN amt_c > 0 THEN amt_c END), 0) AS BIGINT) AS credits_c,
           count(*) AS n_txn,
           min(dt) AS from_date, max(dt) AS to_date
    FROM parsed GROUP BY account
"""

_E2E_LINES_SQL = """
      SELECT o_custkey AS account,
             concat_ws(' ',
               row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
               strftime(o_orderdate, '%d/%m/%Y'),
               concat('TXN', CAST(o_orderkey AS VARCHAR)),
               concat('PRIORITY ', regexp_replace(o_orderpriority, '[^A-Z]', '', 'g')),
               concat(printf('%.2f', o_totalprice), ' (',
                      CASE WHEN o_orderstatus = 'F' THEN 'Dr' ELSE 'Cr' END, ')'),
               concat(printf('%.2f', o_totalprice + CAST(o_orderkey % 1000 AS DOUBLE)), ' (Cr)')
             ) AS line,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS s_no
      FROM orders
"""


def _union_e2e_lines(o):
    """orders frame → (account, line, s_no) in the Union statement grammar
    (shared by the text-path and scanned-OCR e2e queries)."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    s_no = F.row_number().over(w).cast("long")
    line = F.concat_ws(
        " ",
        s_no.cast("string"),
        F.date_format("o_orderdate", "dd/MM/yyyy"),
        F.concat(F.lit("TXN"), F.col("o_orderkey").cast("string")),
        F.concat(F.lit("PRIORITY "), F.regexp_replace("o_orderpriority", "[^A-Z]", "")),
        F.concat(
            F.format_string("%.2f", F.col("o_totalprice")),
            F.lit(" ("),
            F.when(F.col("o_orderstatus") == "F", "Dr").otherwise("Cr"),
            F.lit(")"),
        ),
        F.concat(
            F.format_string(
                "%.2f", F.col("o_totalprice") + (F.col("o_orderkey") % 1000).cast("double")
            ),
            F.lit(" (Cr)"),
        ),
    )
    return o.select(
        F.col("o_custkey").alias("account"), line.alias("line"), s_no.alias("s_no")
    )


def _union_summary(lines):
    """(account, line, s_no) → the quirky positional per-account summary:
    the parse expressions (P4/P6/P8) + aggregates (A2/A5/A6 — opening =
    LAST listed, closing = FIRST, string date min/max). Shared by the
    text-path and scanned-OCR e2e queries; its SQL twin is
    ``_E2E_PARSE_AGG_SQL``."""
    amt_re = r"(\d+\.?\d*)\s*\((Dr|Cr)\)"
    vals = F.regexp_extract_all("line", F.lit(amt_re), 1)
    typs = F.regexp_extract_all("line", F.lit(amt_re), 2)
    parsed = lines.select(
        "account",
        "s_no",
        F.regexp_extract("line", r"^(\d+)\s+(\d{1,2}/\d{1,2}/\d{4})\s+([A-Z0-9]+)", 2).alias("dt"),
        (
            F.round(F.element_at(vals, 1).cast("double") * 100).cast("long")
            * F.when(F.element_at(typs, 1) == "Dr", -1).otherwise(1)
        ).alias("amt_c"),
        F.round(F.element_at(vals, -1).cast("double") * 100).cast("long").alias("bal_c"),
    )
    return parsed.groupBy("account").agg(
        F.max_by("bal_c", "s_no").alias("opening_c"),
        F.min_by("bal_c", "s_no").alias("closing_c"),
        F.coalesce(F.sum(F.when(F.col("amt_c") < 0, F.col("amt_c"))), F.lit(0)).cast("long").alias("debits_c"),
        F.coalesce(F.sum(F.when(F.col("amt_c") > 0, F.col("amt_c"))), F.lit(0)).cast("long").alias("credits_c"),
        F.count(F.lit(1)).alias("n_txn"),
        F.min("dt").alias("from_date"),
        F.max("dt").alias("to_date"),
    )


@q("e2e_union_extract", f"WITH lines AS ({_E2E_LINES_SQL}),{_E2E_PARSE_AGG_SQL}")
def e2e_union_extract(spark, sf_dir):
    """Flagship: construct Union-grammar lines from orders, run the parse
    expressions (P4/P6/P8), aggregate the quirky positional summary (A2/A5/A6
    — opening = LAST listed, closing = FIRST, string date min/max)."""
    return _union_summary(_union_e2e_lines(_t(spark, sf_dir, "orders")))


@q(
    "e2e_scanned_ocr_extract",
    f"""WITH lines AS ({_E2E_LINES_SQL} WHERE o_custkey % 10 = 0),{_E2E_PARSE_AGG_SQL}""",
)
def e2e_scanned_ocr_extract(spark, sf_dir):
    """The SCANNED branch of the flagship, end-to-end real: each Union-
    grammar line is rasterized in the 5×7 matrix font, embedded as a 1-bit
    FlateDecode image XObject in a real PDF (a synthetic scan), then
    recovered by the from-scratch pipeline — extract_pdf_images → ocr_gray
    (fixed-pitch nearest-template OCR) — and fed to the SAME parser
    expressions and aggregates as the text path. The oracle is the TEXT
    path's SQL: it passes only if OCR recovery is byte-exact on every line.
    1-in-10 accounts keeps the per-row Python (render + PDF round-trip)
    proportionate at oracle scale; the operator itself is a zero-shuffle
    mapInPandas fan-out (operators/scanned.py) that scales with partitions,
    not rows-per-partition."""
    import pandas as pd
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    o = _t(spark, sf_dir, "orders").where(F.col("o_custkey") % 10 == 0)
    lines = _union_e2e_lines(o)
    schema = StructType(
        [
            StructField("account", LongType()),
            StructField("line", StringType()),
            StructField("s_no", LongType()),
        ]
    )

    def roundtrip(it):
        from .operators.ocr import ocr_gray
        from .operators.scanned import render_scanned_pdf
        from .sources.pdf_codec import extract_pdf_images

        def per_line(ln):
            imgs = extract_pdf_images(render_scanned_pdf([ln]))
            got = (
                ocr_gray(imgs[0]["width"], imgs[0]["height"], imgs[0]["pixels"])
                if imgs and imgs[0]["pixels"]
                else []
            )
            return got[0] if got else ""

        # r6: amortize the PDF encode/parse and the OCR grid fit over a
        # whole page of lines instead of one PDF per line. Each 40-line
        # page is prefixed with a sentinel line ("0"), so the page always
        # has ink in its first glyph row and the auto-detected grid origin
        # is the true top-left; recognition is then per-cell, so the
        # recovered lines are the same strings per-line OCR yields. The
        # sentinel is verified on every page and ANY mismatch (or a page
        # count surprise) falls back to the per-line roundtrip for that
        # batch — the batched path is an amortization, never a semantic
        # change (the oracle pins byte-exact recovery either way).
        MARK = "0"
        PAGE = 40  # render_scanned_pdf's page_size

        def batched(lns: list[str]) -> list[str] | None:
            chunks = [lns[i : i + PAGE - 1] for i in range(0, len(lns), PAGE - 1)]
            paged: list[str] = []
            for ch in chunks:
                paged.append(MARK)
                paged.extend(ch)
            imgs = extract_pdf_images(render_scanned_pdf(paged, page_size=PAGE))
            if not imgs or len(imgs) != len(chunks):
                return None
            out: list[str] = []
            for img, ch in zip(imgs, chunks):
                if not img["pixels"]:
                    return None
                got = ocr_gray(img["width"], img["height"], img["pixels"])
                if not got or got[0] != MARK:
                    return None
                body = got[1:]
                if len(body) > len(ch):
                    return None
                out.extend(body + [""] * (len(ch) - len(body)))
            return out

        for pdf in it:
            lns = ["" if ln is None else str(ln) for ln in pdf["line"]]
            recovered = batched(lns) if lns else []
            if recovered is None:
                recovered = [per_line(ln) for ln in lns]
            yield pd.DataFrame(
                {"account": pdf["account"], "line": recovered, "s_no": pdf["s_no"]}
            )

    return _union_summary(lines.mapInPandas(roundtrip, schema=schema))


# ---------------------------------------------------------------------------
# Rows-only entries (no SQL oracle — non-relational surface)
# ---------------------------------------------------------------------------


@q(
    "multimodal_decode_stub",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(1 + cs % 30 AS INT) AS n_frames,
           round((cs % 1000) / 1000.0, 6) AS feature_0,
           'stub/v1' AS codec
    FROM (SELECT doc_id, text,
                 CAST(coalesce(list_sum(list_transform(
                       range(1, least(length(text), 256) + 1),
                       i -> unicode(text[i]))), 0) AS BIGINT) AS cs
          FROM documents WHERE doc_id < 100) t
    """,
)
def multimodal_stub(spark, sf_dir):
    """Multimodal plumbing: documents as opaque binary + Arrow-batched
    decode/feature-extract via mapInPandas (decode itself is a deterministic
    stand-in — media libs are not in this environment; the Spark-side schema,
    batching and partitioning are real). The stub's byte math IS
    SQL-expressible (first-256-byte checksum over ASCII payloads), so the
    oracle checks the whole Arrow path end-to-end. See operators/multimodal.py."""
    from .operators.multimodal import decode_features

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    return decode_features(
        d.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    )


@q(
    "multimodal_decode_real",
    """
    SELECT doc_id,
           CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
           CAST(1 AS INT) AS channels,
           round(CAST(doc_id % 256 AS DOUBLE) / 255.0, 6) AS mean_luma,
           CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'pnm' ELSE 'jpeg' END
             AS codec
    FROM documents WHERE doc_id < 120
    """,
)
def multimodal_real(spark, sf_dir):
    """REAL from-scratch media decode through the Arrow path (r3 VERDICT #3):
    each doc gets a constant-luma 8×8 image payload encoded as PNG / binary
    PNM / baseline JPEG (round-robin on doc_id), then decoded back by
    decode_image_features. Constant blocks make all three codecs bit-exact
    (JPEG: DC-only coefficients on a flat quant table), so width / height /
    channels / mean_luma / codec are all SQL-predictable — a full-strength
    oracle over genuinely binary payloads, complementing the ASCII
    checksum-stub oracle above."""
    import pandas as pd
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from .operators.image_codec import encode_png, encode_pnm
    from .operators.jpeg_codec import encode_jpeg
    from .operators.multimodal import decode_image_features

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 120).select("doc_id")
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
    )

    def gen(it):
        encoders = (encode_png, encode_pnm, encode_jpeg)
        for pdf in it:
            payloads = [
                encoders[int(did) % 3](8, 8, 1, bytes([int(did) % 256] * 64))
                for did in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return decode_image_features(d.mapInPandas(gen, schema=schema))


@q(
    "multimodal_frame_sample",
    """
    SELECT doc_id, n_frames, frame_idx,
           CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
           round(CAST((doc_id * 7 + frame_idx * 11) % 256 AS DOUBLE) / 255.0, 6)
             AS mean_luma
    FROM (
      SELECT doc_id, n_frames,
             CAST(unnest(generate_series(0, n_frames - 1, 2)) AS INT) AS frame_idx
      FROM (
        SELECT doc_id, CAST(3 + doc_id % 4 AS INT) AS n_frames
        FROM documents WHERE doc_id < 100
      ) f
    ) t
    """,
)
def multimodal_frame_sample(spark, sf_dir):
    """Frame sampling over REAL animated GIFs (r4 VERDICT #8): each doc gets
    a 3-6-frame animated GIF (8×8 canvas, frame f constant color
    ``(doc_id*7 + f*11) % 256``) built by the from-scratch encoder, decoded
    and composited by decode_gif_frames, and sampled every 2nd frame —
    constant frames make every sampled frame's mean luma SQL-predictable,
    so the whole animation pipeline (LZW decode, GCE parsing, frame
    compositing, stride sampling, variable fan-out in the Arrow batch) sits
    under a full-strength oracle."""
    import pandas as pd
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from .operators.image_codec import encode_gif_frames
    from .operators.multimodal import gif_frame_features

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100).select("doc_id")
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
    )

    def gen(it):
        for pdf in it:
            payloads = []
            for did in pdf["doc_id"]:
                n = 3 + int(did) % 4
                frames = [
                    (
                        f,  # delay (arbitrary, exercises the GCE field)
                        0, 0, 8, 8,
                        bytes([(int(did) * 7 + f * 11) % 256] * 192),
                        None,
                        0,
                    )
                    for f in range(n)
                ]
                payloads.append(encode_gif_frames(8, 8, frames))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return gif_frame_features(d.mapInPandas(gen, schema=schema), stride=2)


@q(
    "multimodal_video_frames",
    """
    SELECT doc_id, n_frames, frame_idx,
           CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
           round(CAST((doc_id * 13 + frame_idx * 29) % 256 AS DOUBLE) / 255.0, 6)
             AS mean_luma
    FROM (
      SELECT doc_id, n_frames,
             CAST(unnest(generate_series(0, n_frames - 1, 2)) AS INT) AS frame_idx
      FROM (
        SELECT doc_id, CAST(2 + doc_id % 4 AS INT) AS n_frames
        FROM documents WHERE doc_id < 100
      ) f
    ) t
    """,
)
def multimodal_video_frames(spark, sf_dir):
    """Frame sampling over REAL video: each doc gets a 2-5-frame MJPEG AVI
    (8×8 frames, frame f constant luma ``(doc_id*13 + f*29) % 256``) built
    by the from-scratch container+JPEG encoders, decoded by
    ``video_codec.decode_avi_frames`` (RIFF walk → per-frame baseline JPEG
    decode) and sampled every 2nd frame. Constant blocks on a flat quant
    table are DCT-exact, so every sampled frame's mean luma is
    SQL-predictable — the whole video path (container parse, MJPEG decode,
    stride sampling, variable Arrow fan-out) under a full-strength oracle.
    Closes the last r4 'video = stub' gap for the codecs that need no
    native libs (MJPEG/DIB); inter-frame codecs remain the labeled stub."""
    import pandas as pd
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from .operators.multimodal import video_frame_features
    from .operators.video_codec import encode_avi_mjpeg

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100).select("doc_id")
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
    )

    def gen(it):
        for pdf in it:
            payloads = []
            for did in pdf["doc_id"]:
                n = 2 + int(did) % 4
                frames = [
                    bytes([(int(did) * 13 + f * 29) % 256] * 64) for f in range(n)
                ]
                payloads.append(encode_avi_mjpeg(8, 8, frames, fps=10.0))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return video_frame_features(d.mapInPandas(gen, schema=schema), stride=2)


@q(
    "multimodal_audio_decode",
    """
    SELECT doc_id,
           CAST(8000 AS INT) AS sample_rate,
           CAST(1 AS INT) AS channels,
           CAST(CASE doc_id % 3 WHEN 0 THEN 64 + doc_id % 5
                                WHEN 1 THEN 505 ELSE 100 END AS BIGINT)
             AS n_frames,
           CASE WHEN doc_id % 3 < 2
                THEN CAST(round(abs((doc_id % 199) - 99) * 32768.0 / 100.0)
                          AS BIGINT) / 32768.0
                ELSE (CAST(((((255 - doc_id % 256) & 15) << 3) + 132)
                           << (((255 - doc_id % 256) >> 4) & 7) AS BIGINT)
                      - 132) / 32768.0
           END AS mean_abs,
           CASE doc_id % 3 WHEN 0 THEN 'pcm' WHEN 1 THEN 'adpcm' ELSE 'ulaw'
             END AS codec
    FROM documents WHERE doc_id < 120
    """,
)
def multimodal_audio_decode(spark, sf_dir):
    """REAL audio decode across three codec arms round-robin on doc_id:
    16-bit PCM, IMA ADPCM (4:1 compressed — constant signals at step index
    0 decode EXACTLY, pinned by test_ima_adpcm_constant_signal_exact), and
    G.711 µ-law (whose log expansion is pure bit math, re-implemented
    ALGEBRAICALLY in the DuckDB oracle: ``t = (((u&15)<<3)+132) << ((u>>4)&7)``).
    All three arms produce exact-arithmetic mean amplitudes (k/32768 is a
    dyadic rational — sums and the final division are IEEE-exact), so the
    compressed-audio decoders sit under a full-strength value oracle, not
    a tolerance check."""
    import pandas as pd
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from .operators.audio_codec import (
        _ulaw_to_linear, encode_wav, encode_wav_g711, encode_wav_ima_adpcm,
    )
    from .operators.multimodal import decode_audio_features

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 120).select("doc_id")
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
    )

    def gen(it):
        for pdf in it:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                a = ((did % 199) - 99) / 100.0
                arm = did % 3
                if arm == 0:
                    payloads.append(encode_wav(8000, 1, [a] * (64 + did % 5)))
                elif arm == 1:
                    payloads.append(encode_wav_ima_adpcm(8000, 1, [a] * 505))
                else:
                    lin = _ulaw_to_linear(did % 256)
                    payloads.append(
                        encode_wav_g711(8000, 1, [lin / 32768.0] * 100)
                    )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return decode_audio_features(d.mapInPandas(gen, schema=schema))


@q(
    "pdf_image_extract",
    """
    SELECT doc_id, CAST(0 AS INT) AS page, name, width, height, bits,
           colorspace, codec, mean_luma
    FROM (
      SELECT doc_id, 'bitmap' AS name,
             CAST(8 + doc_id % 5 AS INT) AS width, CAST(6 AS INT) AS height,
             CAST(1 AS INT) AS bits, 'gray' AS colorspace,
             CASE WHEN doc_id % 2 = 0 THEN 'ccitt' ELSE 'flate' END AS codec,
             round(CAST((doc_id % ((8 + doc_id % 5) * 6)) * 255 AS DOUBLE)
                   / (((8 + doc_id % 5) * 6) * 255), 6) AS mean_luma
      FROM documents WHERE doc_id < 150
      UNION ALL
      SELECT doc_id, 'photo', CAST(16 AS INT), CAST(16 AS INT), CAST(8 AS INT),
             'gray', 'dct', round(CAST(doc_id % 256 AS DOUBLE) / 255.0, 6)
      FROM documents WHERE doc_id < 150
    ) t
    """,
)
def pdf_image_extract(spark, sf_dir):
    """Embedded-image extraction from real PDFs: each doc carries two image
    XObjects — a 1-bit FlateDecode bitmap whose first ``doc_id % n`` pixels
    are white (mean luma = that exact fraction) and a constant-gray
    DCTDecode photo decoded by the from-scratch JPEG codec — pulled back
    out by ``extract_pdf_images`` (page → /Resources → /XObject walk,
    filter dispatch, 1-bit row expansion) and reduced to features by the
    ``pdf_image_features`` operator. All sums are integer-exact, so the
    oracle pins every mean. The scanned-statement ingestion surface
    (reference: pdf_validator.py scanned classification) minus only the
    cloud OCR, which operators/ocr.py supplies separately."""
    import pandas as pd
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from .operators.jpeg_codec import encode_jpeg
    from .operators.scanned import pdf_image_features
    from .sources.pdf_codec import encode_pdf

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 150).select("doc_id")
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
    )

    def gen(it):
        for pdf in it:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                w = 8 + did % 5
                n = w * 6
                ones = did % n
                stride = (w + 7) // 8
                bm = bytearray(stride * 6)
                for i in range(ones):
                    y, x = divmod(i, w)
                    bm[y * stride + (x >> 3)] |= 0x80 >> (x & 7)
                jp = encode_jpeg(16, 16, 1, bytes([did % 256] * 256), quant=1)
                # even docs: Group 4 fax filter — G4 carries INK (black), the
                # inverse of the 1-bit sample convention (1 = white), so the
                # same luma needs the inverted bitmap
                bitmap = (
                    {"width": w, "height": 6, "colorspace": "gray", "bits": 1,
                     "filter": "ccitt", "data": bytes(x ^ 0xFF for x in bm)}
                    if did % 2 == 0
                    else {"width": w, "height": 6, "colorspace": "gray",
                          "bits": 1, "filter": "flate", "data": bytes(bm)}
                )
                payloads.append(
                    encode_pdf(
                        [("media", "", "bitmap", 0), ("media", "", "photo", 1)],
                        images={
                            "bitmap": bitmap,
                            "photo": {"width": 16, "height": 16, "filter": "dct", "data": jp},
                        },
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return pdf_image_features(d.mapInPandas(gen, schema=schema))


@q(
    "p13_opening_balance_scan",
    """
    SELECT c_custkey AS account,
           CAST(round(CAST(regexp_extract(concat('Opening Balance ', printf('%.2f', abs(c_acctbal))),
                                          'Opening Balance\\s+([\\d,]+\\.?\\d*)', 1) AS DOUBLE) * 100)
                AS BIGINT) AS opening_c
    FROM customer
    """,
)
def p13_opening_balance(spark, sf_dir):
    """P13 — first 'Opening Balance' line regex probe + comma-strip cast
    (canara_bank_extractor.py:205-215), over constructed header lines."""
    c = _t(spark, sf_dir, "customer")
    line = F.concat(F.lit("Opening Balance "), F.format_string("%.2f", F.abs(F.col("c_acctbal"))))
    val = F.regexp_extract(line, r"Opening Balance\s+([\d,]+\.?\d*)", 1)
    return c.select(
        F.col("c_custkey").alias("account"),
        F.round(F.regexp_replace(val, ",", "").cast("double") * 100)
        .cast("long")
        .alias("opening_c"),
    )


@q(
    "m6_partial_year_lookahead",
    """
    SELECT account,
           CASE WHEN to_year IS NOT NULL THEN concat('31/03/', to_year) END AS to_date
    FROM (
      SELECT c_custkey AS account,
             list_filter(
               flatten(list_transform(
                 ['Branch Report Section',
                  concat('Generated Total ', CAST(2024 + c_custkey % 3 AS VARCHAR))],
                 l -> regexp_extract_all(l, '(?:/)?(\\d{4})', 1))),
               y -> CAST(y AS INT) <> 2024)[1] AS to_year
      FROM customer) t
    """,
)
def m6_lookahead(spark, sf_dir):
    """M6 — the Union partial-year statement-period lookahead
    (union_bank_extractor.py:159-197): scan following lines' 4-digit years,
    first one differing from the from-year wins; unset if none. Pure array
    expressions (flatten ∘ transform ∘ regexp_extract_all ∘ filter)."""
    c = _t(spark, sf_dir, "customer")
    lines = F.array(
        F.lit("Branch Report Section"),
        F.concat(F.lit("Generated Total "), (2024 + F.col("c_custkey") % 3).cast("string")),
    )
    years = F.flatten(
        F.transform(lines, lambda l: F.regexp_extract_all(l, F.lit(r"(?:/)?(\d{4})"), 1))
    )
    to_year = F.try_element_at(F.filter(years, lambda y: y.cast("int") != 2024), F.lit(1))
    return c.select(
        F.col("c_custkey").alias("account"),
        F.when(to_year.isNotNull(), F.concat(F.lit("31/03/"), to_year)).alias("to_date"),
    )


@q(
    "ann_ivf_fixed_topk",
    f"""
    WITH cent AS (
      SELECT CAST(vec_id / 10 AS INT) AS cluster, embedding AS centroid
      FROM embeddings WHERE vec_id % 10 = 0 AND vec_id < 80),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    assigned AS (
      SELECT vec_id, embedding, cluster FROM (
        SELECT e.vec_id, e.embedding, c.cluster,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {V.duck_cosine('e.embedding', 'c.centroid')} DESC,
                          c.cluster) AS rn
        FROM embeddings e CROSS JOIN cent c) t WHERE rn = 1),
    probe AS (
      SELECT cluster FROM cent CROSS JOIN q
      ORDER BY {V.duck_cosine('centroid', 'qe')} DESC, cluster LIMIT 4)
    SELECT vec_id, {V.duck_cosine('embedding', 'qe')} AS sim
    FROM assigned JOIN probe USING (cluster) CROSS JOIN q
    WHERE vec_id <> 0
    ORDER BY sim DESC, vec_id LIMIT 10
    """,
)
def ann_ivf_fixed_topk(spark, sf_dir):
    """IVF ANN, fixed-centroid variant (operators/similarity.py): centroids
    are deterministic literal picks (embedding of every 10th vec_id), so
    assignment (broadcast + max_by argmax), probe (top-4 centroids) and
    search (top-10 within probed clusters) are all SQL-expressible — the
    cross-engine-checkable twin of the KMeans path below."""
    from .operators.similarity import fixed_centroid_table, ivf_assign, ivf_search

    emb = _t(spark, sf_dir, "embeddings")
    cents = fixed_centroid_table(emb, every=10, k=8)
    assigned = ivf_assign(emb, cents)
    query = emb.where("vec_id = 0").collect()[0].embedding  # ONE row: the query
    return ivf_search(assigned.where("vec_id != 0"), cents, list(query), nprobe=4, topk=10)


# ===========================================================================
# HTML main-content extraction (north-rule leg: boilerplate strip + DOM
# heuristics). Synthetic pages are built deterministically from the
# documents table, so the WHOLE path — from-scratch tokenizer, link-density
# features, boilerpipe NumWordsRules windows, span assembly — sits under an
# exact DuckDB oracle that reconstructs the same blocks from the same rules.
# ===========================================================================

_NAV_WORDS = ("home", "about", "contact", "careers")


def _build_html_page(doc_id: int, text: str) -> bytes:
    """Deterministic synthetic page: nav furniture, headline, one body
    paragraph (the document text), an in-flow figure, a link-dense tag row,
    a short trailing note, aside + footer furniture. Every block's word
    count and link density is reconstructible in SQL from (doc_id, text)."""
    esc = text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    nav = "".join(
        f'<li><a href="/{w}">{w}</a></li>' for w in _NAV_WORDS[: 2 + doc_id % 3]
    )
    return (
        "<!DOCTYPE html>\n"
        f"<html><head><title>doc {doc_id}</title><style>p{{margin:0}}</style>"
        "<script>if(1<2){document.x='<p>not a block</p>';}</script></head><body>"
        f"<header><nav><ul>{nav}</ul></nav></header>"
        "<!-- main content -->"
        f'<div class="content"><h1>report {doc_id}</h1>'
        f"<p>{esc}</p>"
        f'<img src="media/img{doc_id}.png" alt="figure">'
        '<p class="tags"><a href="/t/a">alpha</a> <a href="/t/b">beta</a> '
        '<a href="/t/c">gamma</a></p>'
        f"<p>appendix note {doc_id} item {doc_id % 7}</p></div>"
        '<aside><p><a href="/r/1">related</a> <a href="/r/2">links</a></p></aside>'
        "<footer><p>copyright &copy; 2026 example &amp; sons &middot; "
        '<a href="/privacy">privacy</a></p></footer></body></html>'
    ).encode()


def _html_pages(d: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, payload html bytes), Arrow-batched."""
    import pandas as pd
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
    )

    def gen(it):
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        _build_html_page(int(i), t)
                        for i, t in zip(pdf["doc_id"], pdf["text"])
                    ],
                }
            )

    return d.mapInPandas(gen, schema=schema)


# Oracle CTEs: rebuild the page's text blocks (same order, words, anchors)
# straight from the documents table, then apply the IDENTICAL published
# rule constants with plain lag/lead windows.
_HTML_BLOCKS_SQL = """
    docs AS (
      SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS t,
             2 + doc_id % 3 AS k
      FROM documents WHERE doc_id < 120),
    nav(i, w) AS (SELECT * FROM (VALUES (0,'home'),(1,'about'),(2,'contact'),
                                 (3,'careers')) v(i, w)),
    blocks AS (
      SELECT d.doc_id, CAST(n.i AS BIGINT) AS block_idx, n.w AS text,
             CAST(1 AS BIGINT) AS n_words, CAST(1 AS BIGINT) AS n_anchor,
             TRUE AS skip
      FROM docs d JOIN nav n ON n.i < d.k
      UNION ALL SELECT doc_id, k, 'report ' || doc_id, 2, 0, FALSE FROM docs
      UNION ALL SELECT doc_id, k+1, t, len(string_split(t, ' ')), 0, FALSE
        FROM docs
      UNION ALL SELECT doc_id, k+3, 'alpha beta gamma', 3, 3, FALSE FROM docs
      UNION ALL SELECT doc_id, k+4,
        'appendix note ' || doc_id || ' item ' || (doc_id % 7), 5, 0, FALSE
        FROM docs
      UNION ALL SELECT doc_id, k+5, 'related links', 2, 2, TRUE FROM docs
      UNION ALL SELECT doc_id, k+6,
        'copyright © 2026 example & sons · privacy', 8, 1, TRUE FROM docs),
    feat AS (
      SELECT doc_id, block_idx, text, n_words,
             round(n_anchor / n_words, 6) AS link_density,
             coalesce(lag(n_words) OVER w, 0) AS prev_nw,
             coalesce(lead(n_words) OVER w, 0) AS next_nw,
             coalesce(lag(round(n_anchor / n_words, 6)) OVER w, 0.0) AS prev_ld,
             skip
      FROM blocks
      WINDOW w AS (PARTITION BY doc_id ORDER BY block_idx)),
    labeled AS (
      SELECT *,
             (NOT skip) AND link_density <= 0.33 AND
             (CASE WHEN prev_ld <= 0.555
                   THEN n_words > 16 OR next_nw > 15 OR prev_nw > 4
                   ELSE n_words > 40 OR next_nw > 17 END) AS is_content
      FROM feat)
"""


@q(
    "html_block_classify",
    f"""
    WITH {_HTML_BLOCKS_SQL}
    SELECT doc_id, block_idx, text, n_words, link_density, is_content
    FROM labeled
    """,
)
def html_block_classify(spark, sf_dir):
    """HTML boilerplate classification, block level: build each doc's page,
    tokenize it (sources/html_codec.py, Arrow-batched), then label every
    text block with the boilerpipe NumWordsRules decision tree — link
    density + prev/next word counts via IGNORE-NULLS window frames, plus
    the nav/aside/footer/header DOM heuristic — entirely in Spark SQL
    expressions (operators/boilerplate.py). One hash(doc_id) exchange."""
    from .operators.boilerplate import classify_blocks, segment_html

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 120)
    labeled = classify_blocks(segment_html(_html_pages(d.select("doc_id", "text"))))
    return labeled.where(F.col("kind") == "text").select(
        "doc_id",
        F.col("block_idx").cast("long").alias("block_idx"),
        "text",
        F.col("n_words").cast("long").alias("n_words"),
        "link_density",
        "is_content",
    )


@q(
    "html_main_content",
    f"""
    WITH {_HTML_BLOCKS_SQL},
    kept AS (
      SELECT doc_id, block_idx, 'text' AS kind, text, '' AS media_ref
      FROM labeled WHERE is_content
      UNION ALL
      SELECT doc_id, k + 2, 'media', '', 'media/img' || doc_id || '.png'
      FROM docs)
    SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY block_idx) - 1
                AS BIGINT) AS "offset",
           kind, text, media_ref
    FROM kept
    """,
)
def html_main_content(spark, sf_dir):
    """HTML main-content extraction end-to-end: boilerplate stripped, body
    text + in-flow media emitted as ordered interleaved spans
    (doc_id, offset, kind, text, media_ref) — the north rule's span schema
    over the HTML leg. The row_number reuses the classifier's exchange
    (filter preserves sort), so the whole path is tokenize -> ONE shuffle
    -> spans."""
    from .operators.boilerplate import main_content_spans, segment_html

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 120)
    return main_content_spans(segment_html(_html_pages(d.select("doc_id", "text"))))


# ===========================================================================
# PDF layout reconstruction (north-star leg: bbox reading order +
# table/figure region detection). Fixtures are positioned PDFs built
# deterministically from the documents table — emission order interleaves
# the columns, so stream-order extraction CANNOT pass: only the layout
# operator's reordering matches the oracle.
# ===========================================================================


def _layout_pdf_pages(d: DataFrame, builder) -> DataFrame:
    """(doc_id, text) -> (doc_id, payload positioned-PDF bytes)."""
    import pandas as pd
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
    )

    def gen(it):
        from .sources.pdf_codec import encode_pdf

        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        encode_pdf([], positioned_pages=builder(int(i), t))
                        for i, t in zip(pdf["doc_id"], pdf["text"])
                    ],
                }
            )

    return d.mapInPandas(gen, schema=schema)


def _two_column_page(doc_id: int, text: str) -> list[list[tuple]]:
    """Two-column Manhattan layout: 4-word lines, first half in the left
    column (x=72), rest at x=340, 16pt leading from y=720 — EMITTED in
    row-interleaved order (left r, right r, left r+1, ...) so the content
    stream order is NOT the reading order."""
    ws = " ".join(text.split()).split(" ")
    lines = [" ".join(ws[4 * i : 4 * i + 4]) for i in range((len(ws) + 3) // 4)]
    lc = (len(lines) + 1) // 2
    page = []
    for r in range(lc):
        page.append(("text", 72, 720 - 16 * r, lines[r]))
        if lc + r < len(lines):
            page.append(("text", 340, 720 - 16 * r, lines[lc + r]))
    return [page]


@q(
    "pdf_reading_order",
    """
    WITH docs AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS ws
      FROM documents WHERE doc_id < 100),
    idx AS (
      SELECT doc_id, ws,
             unnest(generate_series(
               0, CAST(ceil(len(ws) / 4.0) AS INT) - 1)) AS i
      FROM docs)
    SELECT doc_id, CAST(i AS BIGINT) AS reading_idx,
           array_to_string(ws[4*i+1 : 4*i+4], ' ') AS text
    FROM idx
    """,
)
def pdf_reading_order(spark, sf_dir):
    """Bbox reading order over two-column pages: positioned-run decode
    (text-matrix tracker, Tm/Td/T* all exercised by the fixture encoder),
    projection-profile column detection (bin explode + distinct + lag —
    the set-at-a-time XY-cut), then row_number over (column, -y, x).
    The fixture emits runs row-interleaved across columns, so the oracle
    (original line order) passes ONLY if the reordering is correct."""
    from .operators.layout import positioned_runs, reading_order

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    runs = positioned_runs(_layout_pdf_pages(d.select("doc_id", "text"), _two_column_page))
    return (
        reading_order(runs)
        .where(F.col("kind") == "text")
        .select("doc_id", "reading_idx", "text")
    )


def _table_page(doc_id: int, text: str) -> list[list[tuple]]:
    """Title + intro line, then a (3 + doc_id%4)-row × 4-column table on
    the x-grid [72,180,288,396] from y=688 down, then a closing line."""
    n_rows = 3 + doc_id % 4
    page = [
        ("text", 72, 720, f"Statement {doc_id}"),
        ("text", 72, 704, "intro line one"),
    ]
    for r in range(n_rows):
        for c, x in enumerate((72, 180, 288, 396)):
            page.append(("text", x, 688 - 16 * r, f"r{r}c{c}"))
    page.append(("text", 72, 688 - 16 * n_rows, "closing remarks here"))
    return [page]


@q(
    "pdf_table_detect",
    """
    SELECT doc_id, CAST(0 AS INT) AS page, CAST(0 AS BIGINT) AS region_id,
           CAST(3 + doc_id % 4 AS BIGINT) AS n_rows,
           CAST(4 AS BIGINT) AS n_cols,
           CAST(688 AS DOUBLE) AS y_top,
           CAST(688 - 16 * (2 + doc_id % 4) AS DOUBLE) AS y_bottom
    FROM documents WHERE doc_id < 100
    """,
)
def pdf_table_detect(spark, sf_dir):
    """Table region detection: lines = runs grouped on snapped y carrying
    their sorted x-origin grids; a line is tabular when ≥3 aligned origins
    repeat on an adjacent line (array_intersect vs lag/lead); consecutive
    tabular lines merge via rank-difference islands. Title/intro/closing
    single-run lines must NOT match; the oracle pins exact region extent
    and shape per document."""
    from .operators.layout import positioned_runs, table_regions

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    runs = positioned_runs(_layout_pdf_pages(d.select("doc_id", "text"), _table_page))
    return table_regions(runs)


def _figure_page(doc_id: int, text: str) -> list[list[tuple]]:
    """Two figures with caption lines below each, body text between —
    pairing must hop the body text and never cross to the next figure."""
    return [
        [
            ("text", 72, 700, "lead paragraph words here"),
            ("media", 100, 600, "figA"),
            ("text", 72, 584, f"Figure 1 overview {doc_id}"),
            ("text", 72, 500, "body words between figures"),
            ("media", 100, 400, "figB"),
            ("text", 72, 384, f"Figure 2 detail {doc_id}"),
            ("text", 72, 300, "trailing paragraph text"),
        ]
    ]


@q(
    "pdf_figure_captions",
    """
    SELECT doc_id, 'figA' AS media_ref,
           'Figure 1 overview ' || doc_id AS caption
    FROM documents WHERE doc_id < 100
    UNION ALL
    SELECT doc_id, 'figB', 'Figure 2 detail ' || doc_id
    FROM documents WHERE doc_id < 100
    """,
)
def pdf_figure_captions(spark, sf_dir):
    """Figure region pairing: media runs (positioned via their cm matrix)
    pick the nearest caption-shaped text line below on the same page with
    one IGNORE-NULLS window — body text between figure and caption is
    hopped, and pairing never crosses the next figure (its caption sits
    above that figure's own)."""
    from .operators.layout import figure_captions, positioned_runs

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    runs = positioned_runs(_layout_pdf_pages(d.select("doc_id", "text"), _figure_page))
    return figure_captions(runs).select("doc_id", "media_ref", "caption")


@q(
    "e2e_mixed_ingest",
    """
    WITH d AS (
      SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS t
      FROM documents WHERE doc_id < 120),
    f AS (SELECT doc_id, t, len(string_split(t, ' ')) AS nw, doc_id % 3 AS m
          FROM d)
    SELECT doc_id,
           CASE m WHEN 0 THEN 'container' WHEN 1 THEN 'pdf' ELSE 'html' END
             AS fmt,
           CAST(CASE m WHEN 0 THEN 3 WHEN 1 THEN 2
                ELSE CASE WHEN nw > 17 THEN 3 WHEN nw = 17 THEN 2 ELSE 1 END
                END AS BIGINT) AS n_spans,
           CAST(CASE m WHEN 2 THEN 1 WHEN 0 THEN 1 ELSE 0 END AS BIGINT)
             AS n_media,
           CASE m WHEN 0 THEN 'statement ' || doc_id
                  WHEN 1 THEN 'statement ' || doc_id
                  ELSE CASE WHEN nw > 17 THEN 'report ' || doc_id
                            WHEN nw = 17 THEN t ELSE '' END END AS head_text
    FROM f
    """,
)
def e2e_mixed_ingest(spark, sf_dir):
    """The north rule's input shape end-to-end: ONE raw-payload table with
    PDFs, HTML pages and framed text containers (half of them gzipped)
    interleaved, ingested by a single Arrow-batched pass
    (binary_ingest.ingest_mixed) that magic-byte-dispatches each doc to its
    from-scratch decoder — PDF codec, HTML tokenizer + NumWordsRules
    boilerplate strip (pure-Python twin of the columnar classifier),
    gzip-transparent container framing — into the unified interleaved span
    schema. The oracle pins per-doc span counts, media counts and the head
    span text for every format, including the HTML rule-dependent cases."""
    import gzip as _gzip

    import pandas as pd
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from .sources.binary_ingest import ingest_mixed

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 120)
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("content", BinaryType())]
    )

    def gen(it):
        from .sources.binary_ingest import encode_spans
        from .sources.pdf_codec import encode_pdf

        for pdf in it:
            payloads = []
            for did, t in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                if did % 3 == 0:
                    raw = encode_spans(
                        [
                            ("text", f"statement {did}", "", 0),
                            ("text", t, "", 1),
                            ("media", "", f"img{did}", 2),
                        ]
                    )
                    payloads.append(_gzip.compress(raw) if did % 2 == 0 else raw)
                elif did % 3 == 1:
                    payloads.append(
                        encode_pdf(
                            [
                                ("text", f"statement {did}", "", 0),
                                ("text", t, "", 1),
                            ]
                        )
                    )
                else:
                    payloads.append(_build_html_page(did, t))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": payloads})

    mixed = ingest_mixed(d.select("doc_id", "text").mapInPandas(gen, schema=schema))
    return mixed.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "fmt",
        F.coalesce(F.size("spans"), F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce(
            F.size(F.filter("spans", lambda s: s["kind"] == "media")), F.lit(0)
        )
        .cast("long")
        .alias("n_media"),
        F.coalesce(F.element_at("spans", 1)["text"], F.lit("")).alias("head_text"),
    )


def _banded_page(doc_id: int, text: str) -> list[list[tuple]]:
    """Title (full-width spanner), two columns, full-width footer — the
    composition the FLAT projection profile cannot split (the title
    bridges the inter-column gap); only the banded XY-cut reads it right.
    Emission order: columns interleaved, then footer, then title LAST."""
    page = _two_column_page(doc_id, text)[0]
    page.append(
        ("text", 72, 80,
         f"generated by the example corporation extraction pipeline copy {doc_id}")
    )
    page.append(
        ("text", 72, 760,
         f"Annual consolidated statement report {doc_id} for archival use")
    )
    return [page]


@q(
    "pdf_reading_order_banded",
    """
    WITH docs AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS ws
      FROM documents WHERE doc_id < 100),
    idx AS (
      SELECT doc_id, ws,
             unnest(generate_series(
               0, CAST(ceil(len(ws) / 4.0) AS INT) - 1)) AS i
      FROM docs)
    SELECT doc_id, CAST(i + 1 AS BIGINT) AS reading_idx,
           array_to_string(ws[4*i+1 : 4*i+4], ' ') AS text
    FROM idx
    UNION ALL
    SELECT doc_id, 0,
           'Annual consolidated statement report ' || doc_id
             || ' for archival use'
    FROM docs
    UNION ALL
    SELECT doc_id, CAST(ceil(len(ws) / 4.0) AS BIGINT) + 1,
           'generated by the example corporation extraction pipeline copy '
             || doc_id
    FROM docs
    """,
)
def pdf_reading_order_banded(spark, sf_dir):
    """One-level recursive XY-cut (layout.reading_order_banded): the
    full-width title and footer are horizontal cuts isolating the
    two-column body into its own band, where the projection profile then
    finds the gap the title was bridging. Expected order: title, left
    column top-down, right column, footer — from a content stream that
    emits the title LAST."""
    from .operators.layout import positioned_runs, reading_order_banded

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    runs = positioned_runs(_layout_pdf_pages(d.select("doc_id", "text"), _banded_page))
    return (
        reading_order_banded(runs)
        .where(F.col("kind") == "text")
        .select("doc_id", "reading_idx", "text")
    )


def _table_missing_cell_page(doc_id: int, text: str) -> list[list[tuple]]:
    """The :func:`_table_page` grid with one cell KNOCKED OUT per document
    (row (doc_id % n_rows), column (doc_id % 4) — skipped when that row
    would drop under two origins): cell extraction must keep the
    survivors in their grid columns, which positional rank cannot do."""
    n_rows = 3 + doc_id % 4
    miss_r, miss_c = doc_id % n_rows, doc_id % 4
    page = [
        ("text", 72, 720, f"Statement {doc_id}"),
        ("text", 72, 704, "intro line one"),
    ]
    for r in range(n_rows):
        for c, x in enumerate((72, 180, 288, 396)):
            if r == miss_r and c == miss_c:
                continue
            page.append(("text", x, 688 - 16 * r, f"r{r}c{c}"))
    page.append(("text", 72, 688 - 16 * n_rows, "closing remarks here"))
    return [page]


@q(
    "pdf_table_extract",
    """
    WITH docs AS (
      SELECT doc_id, 3 + doc_id % 4 AS n_rows,
             doc_id % (3 + doc_id % 4) AS miss_r, doc_id % 4 AS miss_c
      FROM documents WHERE doc_id < 100),
    cells AS (
      SELECT doc_id, miss_r, miss_c,
             unnest(generate_series(0, n_rows - 1)) AS r
      FROM docs),
    grid AS (
      SELECT doc_id, miss_r, miss_c, r, unnest([0, 1, 2, 3]) AS c
      FROM cells)
    SELECT doc_id, CAST(0 AS INT) AS page, CAST(0 AS BIGINT) AS region_id,
           CAST(r AS BIGINT) AS "row", CAST(c AS BIGINT) AS col,
           'r' || r || 'c' || c AS cell_text
    FROM grid
    WHERE NOT (r = miss_r AND c = miss_c)
    """,
)
def pdf_table_extract(spark, sf_dir):
    """Structured cell extraction (layout.table_cells): region grid =
    clustered union of line x-origins, row = dense_rank of snapped y,
    col = grid origins left of the run — so the knocked-out cell's row
    keeps its surviving cells in the RIGHT columns (positional rank would
    shift them), and the missing cell is absent, not empty. Oracle pins
    every (row, col, text) per document."""
    from .operators.layout import positioned_runs, table_cells

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    runs = positioned_runs(
        _layout_pdf_pages(d.select("doc_id", "text"), _table_missing_cell_page)
    )
    return table_cells(runs)


def _media_column_page(doc_id: int, text: str) -> list[list[tuple]]:
    """Two-column layout with an in-flow figure: the media run is emitted
    FIRST in the content stream but sits mid-left-column (between text rows
    m-1 and m, m = lc//2), so its span offset is a pure layout product."""
    page = _two_column_page(doc_id, text)[0]
    n_text = sum(1 for r in page if r[0] == "text")
    lc = (n_text + 1) // 2
    m = lc // 2
    page.insert(0, ("media", 100, 720 - 16 * m + 8, f"img{doc_id}"))
    return [page]


@q(
    "pdf_layout_spans",
    """
    WITH docs AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS ws
      FROM documents WHERE doc_id < 100),
    p AS (
      SELECT doc_id, ws, CAST(ceil(len(ws) / 4.0) AS INT) AS nl
      FROM docs),
    q AS (
      SELECT doc_id, ws, nl, ((nl + 1) // 2) // 2 AS m
      FROM p),
    idx AS (
      SELECT doc_id, ws, m, unnest(generate_series(0, nl - 1)) AS i
      FROM q)
    SELECT doc_id,
           CAST(CASE WHEN i < m THEN i ELSE i + 1 END AS BIGINT) AS "offset",
           'text' AS kind,
           array_to_string(ws[4*i+1 : 4*i+4], ' ') AS text,
           '' AS media_ref
    FROM idx
    UNION ALL
    SELECT doc_id, CAST(m AS BIGINT), 'media', '', 'img' || doc_id
    FROM q
    """,
)
def pdf_layout_spans(spark, sf_dir):
    """The north rule's span-sequence invariant on the LAYOUT path
    (layout.layout_spans): reading-ordered runs → canonical interleaved
    spans (doc_id, offset, kind, text, media_ref). The figure is emitted
    first in the content stream but must take the offset between left-
    column rows m-1 and m; every text span's offset shifts by one after
    it. Oracle reconstructs the full (kind, text, media_ref, order)
    sequence per document."""
    from .operators.layout import layout_spans, positioned_runs

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    runs = positioned_runs(
        _layout_pdf_pages(d.select("doc_id", "text"), _media_column_page)
    )
    return layout_spans(runs)


@q(
    "html_outlinks",
    """
    WITH docs AS (
      SELECT doc_id, 2 + doc_id % 3 AS k
      FROM documents WHERE doc_id < 120),
    nav AS (
      SELECT doc_id,
             unnest(generate_series(0, k - 1)) AS i, k
      FROM docs)
    SELECT doc_id, CAST(i AS BIGINT) AS link_idx,
           '/' || (['home','about','contact','careers'])[i + 1] AS href,
           (['home','about','contact','careers'])[i + 1] AS anchor_text
    FROM nav
    UNION ALL
    SELECT doc_id, CAST(k + v.j AS BIGINT), v.h, v.t
    FROM docs, (VALUES (0, '/t/a', 'alpha'), (1, '/t/b', 'beta'),
                       (2, '/t/c', 'gamma'), (3, '/r/1', 'related'),
                       (4, '/r/2', 'links'), (5, '/privacy', 'privacy'))
         AS v(j, h, t)
    """,
)
def html_outlinks(spark, sf_dir):
    """Outlink extraction (the web-graph primitive): the from-scratch link
    scanner (html_codec.extract_links — same comment/rawtext/quoted-attr
    rules as the block tokenizer, so script-embedded markup never links)
    over the synthetic pages, emitting (doc_id, link_idx, href,
    anchor_text). Oracle reconstructs the full doc-ordered link table from
    the fixture: per-doc nav of 2 + doc_id%3 items, three tag links, two
    aside links, the footer privacy link."""
    from .operators.boilerplate import extract_outlinks

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 120)
    return extract_outlinks(_html_pages(d.select("doc_id", "text")))


@q(
    "e2e_warc_ingest",
    """
    WITH d AS (
      SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS t
      FROM documents WHERE doc_id < 120),
    f AS (SELECT doc_id, t, len(string_split(t, ' ')) AS nw, doc_id % 3 AS m
          FROM d)
    SELECT doc_id,
           'site' || doc_id % 5 || '.test' AS host,
           CAST(CASE WHEN m = 0 THEN NULL ELSE 200 END AS BIGINT)
             AS http_status,
           CASE m WHEN 0 THEN 'container' WHEN 1 THEN 'pdf' ELSE 'html' END
             AS fmt,
           CAST(CASE m WHEN 0 THEN 3 WHEN 1 THEN 2
                ELSE CASE WHEN nw > 17 THEN 3 WHEN nw = 17 THEN 2 ELSE 1 END
                END AS BIGINT) AS n_spans,
           CASE m WHEN 0 THEN 'statement ' || doc_id
                  WHEN 1 THEN 'statement ' || doc_id
                  ELSE CASE WHEN nw > 17 THEN 'report ' || doc_id
                            WHEN nw = 17 THEN t ELSE '' END END AS head_text
    FROM f
    """,
)
def e2e_warc_ingest(spark, sf_dir):
    """Web-crawl ingest end-to-end: documents grouped 10-per-WARC-file
    (compression form cycling plain / whole-file gzip / member-per-record
    gzip across files), each record an HTTP response (HTML, PDF) or a
    resource (framed container, half of those gzipped AGAIN inside the
    record) — parsed by the from-scratch WARC reader, bodies dispatched by
    magic bytes to the from-scratch decoders, host pulled columnar with
    parse_url. The oracle pins per-doc host, HTTP status, detected format,
    span count and head span text across all three compression forms."""
    import gzip as _gzip

    import pandas as pd
    from pyspark.sql.types import BinaryType, StringType, StructField, StructType

    from .sources.binary_ingest import ingest_warc

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 120)
    wschema = StructType(
        [StructField("warc_id", StringType()), StructField("content", BinaryType())]
    )

    def build_file(pdf: pd.DataFrame) -> pd.DataFrame:
        from .sources.binary_ingest import encode_spans
        from .sources.pdf_codec import encode_pdf
        from .sources.warc_codec import encode_warc

        pdf = pdf.sort_values("doc_id")
        fid = int(pdf["doc_id"].iloc[0]) // 10
        recs = []
        for did, t in zip(pdf["doc_id"], pdf["text"]):
            did = int(did)
            url = f"http://site{did % 5}.test/doc/{did}"
            if did % 3 == 0:
                raw = encode_spans(
                    [
                        ("text", f"statement {did}", "", 0),
                        ("text", t, "", 1),
                        ("media", "", f"img{did}", 2),
                    ]
                )
                recs.append(
                    {
                        "rec_type": "resource", "url": url,
                        "body": _gzip.compress(raw) if did % 2 == 0 else raw,
                    }
                )
            elif did % 3 == 1:
                recs.append(
                    {
                        "rec_type": "response", "url": url,
                        "http_status": 200, "content_type": "application/pdf",
                        "body": encode_pdf(
                            [
                                ("text", f"statement {did}", "", 0),
                                ("text", t, "", 1),
                            ]
                        ),
                    }
                )
            else:
                recs.append(
                    {
                        "rec_type": "response", "url": url,
                        "http_status": 200, "content_type": "text/html",
                        "body": _build_html_page(did, t),
                    }
                )
        form = (None, "file", "record")[fid % 3]
        return pd.DataFrame(
            {"warc_id": [f"warc-{fid}"], "content": [encode_warc(recs, form)]}
        )

    files = (
        d.select("doc_id", "text")
        .groupBy((F.col("doc_id") / 10).cast("long"))
        .applyInPandas(build_file, schema=wschema)
    )
    recs = ingest_warc(files)
    return recs.select(
        F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long").alias("doc_id"),
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.col("http_status").cast("long").alias("http_status"),
        "fmt",
        F.coalesce(F.size("spans"), F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce(F.element_at("spans", 1)["text"], F.lit("")).alias("head_text"),
    )


@q(
    "html_charset_decode",
    """
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'utf-8' WHEN 1 THEN 'utf-16'
                ELSE 'cp1252' END AS charset,
           'naïve café résumé ' || doc_id
             || ' with enough body words that the single paragraph block'
             || ' clears the classifier word threshold easily' AS head_text
    FROM documents WHERE doc_id < 90
    """,
)
def html_charset_decode(spark, sf_dir):
    """Charset-sniffed HTML decode end-to-end: the same page bytes arrive
    utf-8, utf-16-with-BOM, or windows-1252-with-meta (cycling by doc_id);
    sniff_format must still dispatch them as HTML (utf-16 head decode) and
    the tokenizer must decode via the WHATWG prescan (BOM first, then
    <meta charset>) so the non-ASCII text survives byte-exact. Oracle pins
    the decoded head span per document."""
    import pandas as pd
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from .sources.binary_ingest import ingest_mixed

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 90)
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("content", BinaryType())]
    )

    def gen(it):
        for pdf in it:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                body = (
                    f"naïve café résumé {did} with enough body words that"
                    " the single paragraph block clears the classifier word"
                    " threshold easily"
                )
                if did % 3 == 0:
                    payloads.append(
                        f"<html><body><p>{body}</p></body></html>".encode()
                    )
                elif did % 3 == 1:
                    payloads.append(
                        f"<html><body><p>{body}</p></body></html>".encode("utf-16")
                    )
                else:
                    payloads.append(
                        (
                            '<html><head><meta charset="windows-1252"></head>'
                            f"<body><p>{body}</p></body></html>"
                        ).encode("cp1252")
                    )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": payloads})

    mixed = ingest_mixed(d.select("doc_id").mapInPandas(gen, schema=schema))
    return mixed.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.element_at(
            F.array(F.lit("utf-8"), F.lit("utf-16"), F.lit("cp1252")),
            (F.col("doc_id").cast("long") % 3 + 1).cast("int"),
        ).alias("charset"),
        F.coalesce(F.element_at("spans", 1)["text"], F.lit("")).alias("head_text"),
    )


# ===========================================================================
# Web-pipeline extras (round 5): repetition gates, PII, URL graph keys
# ===========================================================================


@q(
    "text_repetition",
    """
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws,
             greatest(length(text), 1) AS nc
      FROM documents),
    bi_i AS (SELECT doc_id, nc, ws,
                    unnest(generate_series(1, len(ws) - 1)) AS i FROM w),
    bc AS (SELECT doc_id, nc, ws[i] || ' ' || ws[i+1] AS gram, count(*) AS cnt
           FROM bi_i GROUP BY ALL),
    top AS (SELECT DISTINCT doc_id, nc,
              first_value(cnt * length(gram))
                OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS topchars
            FROM bc),
    g5_i AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 4)) AS i
             FROM w WHERE len(ws) >= 5),
    g5c AS (SELECT doc_id, array_to_string(ws[i:i+4], ' ') AS gram,
                   count(*) AS cnt
            FROM g5_i GROUP BY doc_id, gram),
    dup5 AS (SELECT doc_id,
                    sum(CASE WHEN cnt > 1 THEN cnt * length(gram)
                             ELSE 0 END) AS dupchars
             FROM g5c GROUP BY doc_id),
    wu AS (SELECT doc_id, len(ws) AS nw, unnest(ws) AS wd FROM w),
    wc AS (SELECT doc_id, nw, wd, count(*) AS cnt FROM wu GROUP BY ALL),
    dw AS (SELECT doc_id, greatest(any_value(nw), 1) AS nw,
                  sum(cnt - 1) AS dups
           FROM wc GROUP BY doc_id)
    SELECT t.doc_id,
      CAST(floor(CAST(t.topchars AS DOUBLE) * 1000000.0 / t.nc) AS BIGINT)
        AS top2gram_ppm,
      CAST(floor(CAST(coalesce(d5.dupchars, 0) AS DOUBLE) * 1000000.0 / t.nc)
           AS BIGINT) AS dup5gram_ppm,
      CAST(floor(CAST(dw.dups AS DOUBLE) * 1000000.0 / dw.nw) AS BIGINT)
        AS dup_word_ppm
    FROM top t JOIN dw ON t.doc_id = dw.doc_id
    LEFT JOIN dup5 d5 ON t.doc_id = d5.doc_id
    """,
)
def text_repetition(spark, sf_dir):
    """Gopher-style repetition gate (Rae et al. 2021 §A.1.1): chars in the
    most frequent word-2-gram, chars in all duplicated 5-grams, repeated
    words — each as floor-ppm (cross-engine exact integers). Two balanced
    hash aggregates per signal keyed on (doc_id, gram) then doc_id; no
    window over the corpus, no skew (hot grams spread across docs)."""
    from .operators.textmetrics import repetition_signals

    return repetition_signals(_t(spark, sf_dir, "documents"))


@q(
    "pii_redact",
    """
    SELECT doc_id,
      CAST(1 AS BIGINT) AS n_emails,
      CAST(1 AS BIGINT) AS n_ips,
      CAST(1 AS BIGINT) AS n_phones,
      CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_cards,
      'contact [EMAIL] or [PHONE] card ' ||
        CASE WHEN doc_id % 2 = 0 THEN '[CARD]' ELSE '4539578763621487' END ||
        ' ip [IP] end' AS redacted
    FROM documents WHERE doc_id < 200
    """,
)
def pii_redact(spark, sf_dir):
    """PII scrub end-to-end: deterministic fixture text embeds an email, a
    +phone, an IPv4, and a card number that is Luhn-VALID on even doc_ids
    (grouped 4x4 form on multiples of 4) and Luhn-INVALID on odd ones —
    the invalid digit run must SURVIVE redaction (no false positives on
    order-id-like numbers). Oracle reconstructs counts + the exact
    redacted string arithmetically; the Luhn fold itself is pinned by
    unit/property tests."""
    from .operators.pii import scan_documents

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    card = (
        F.when(F.col("doc_id") % 4 == 0, F.lit("4539-5787-6362-1486"))
        .when(F.col("doc_id") % 2 == 0, F.lit("4539578763621486"))
        .otherwise(F.lit("4539578763621487"))
    )
    raw = F.concat(
        F.lit("contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1555010"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit(" card "),
        card,
        F.lit(" ip 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 end"),
    )
    return scan_documents(d.select("doc_id", raw.alias("text")))


@q(
    "url_canonicalize",
    """
    SELECT doc_id,
      CASE doc_id % 6
        WHEN 0 THEN 'http://example.com/Path/a?a=1&b=2&id=' || (doc_id % 10)
        WHEN 1 THEN 'https://sub.shop.co.uk/'
        WHEN 2 THEN 'http://example.com:8080/?q=1'
        WHEN 3 THEN 'https://a.github.io/p/../q'
        WHEN 4 THEN 'http://www.news.com.au/x'
        ELSE 'mailto:user@x.com' END AS canonical_url,
      CASE doc_id % 6
        WHEN 0 THEN 'example.com'  WHEN 1 THEN 'shop.co.uk'
        WHEN 2 THEN 'example.com'  WHEN 3 THEN 'a.github.io'
        WHEN 4 THEN 'news.com.au'  ELSE '' END AS domain
    FROM documents WHERE doc_id < 240
    """,
)
def url_canonicalize(spark, sf_dir):
    """URL canonicalization + registrable-domain (eTLD+1) keys: lowercase
    scheme/host, default-port drop (non-default kept), fragment strip,
    tracking-param removal + bytewise param sort, empty path -> '/';
    schemeless strings pass through. Domain via longest-suffix match on
    the inlined PSL subset (multi-label suffixes like co.uk / github.io
    take three labels). Pure projection — fuses into the scan."""
    from .operators.weblinks import canonicalize_url, registrable_domain, url_host

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 240)
    url = F.element_at(
        F.array(
            F.concat(
                F.lit("HTTP://Example.COM:80/Path/a?utm_source=news&b=2&a=1&id="),
                (F.col("doc_id") % 10).cast("string"),
                F.lit("#frag"),
            ),
            F.lit("https://Sub.Shop.co.uk:443/"),
            F.lit("http://example.com:8080?q=1"),
            F.lit("https://a.GitHub.io/p/../q"),
            F.lit("http://www.news.com.au/x?fbclid=abc"),
            F.lit("mailto:user@x.com"),
        ),
        (F.col("doc_id") % 6 + 1).cast("int"),
    )
    return (
        d.select("doc_id", url.alias("url"))
        .select("doc_id", canonicalize_url("url").alias("canonical_url"), url_host("url").alias("h"))
        .select("doc_id", "canonical_url", registrable_domain("h").alias("domain"))
    )


@q(
    "web_domain_outdegree",
    """
    SELECT 'shop' || (doc_id % 5) || '.co.uk' AS domain,
           CAST(sum(8 + doc_id % 3) AS BIGINT) AS n_links
    FROM documents WHERE doc_id < 120
    GROUP BY 1
    """,
)
def web_domain_outdegree(spark, sf_dir):
    """The web-graph composition: real HTML outlink extraction (the
    from-scratch tag scanner) -> RFC 3986 href resolution against each
    page's base URL (dot segments removed via an aggregate fold) ->
    canonicalization -> registrable-domain grouping. One explode + one
    hash aggregate keyed on domain; every per-link step is a fused
    projection. Oracle computes the same out-degrees arithmetically from
    the fixture (k nav links + 6 body/footer links per page)."""
    from .operators.boilerplate import extract_outlinks
    from .operators.weblinks import (
        canonicalize_url,
        registrable_domain,
        resolve_href,
        url_host,
    )

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 120)
    links = extract_outlinks(_html_pages(d.select("doc_id", "text")))
    base = F.concat(
        F.lit("http://www.shop"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(".co.uk/dir/page.html"),
    )
    # stage each URL transform behind its own projection (r6): built inline,
    # canonicalize_url referenced the whole resolve_href subtree ~8 times
    # and registrable_domain(url_host(...)) multiplied it again (~30 copies
    # of the regex/fold tree in one expression — seconds of construction
    # and duplicated evaluation). Multi-referenced non-cheap aliases are
    # not re-inlined by CollapseProject, so each stage evaluates once.
    resolved = (
        links.withColumn("_b", base)
        .select(resolve_href("_b", "href").alias("r"))
        .select(canonicalize_url("r").alias("u"))
        .select(url_host("u").alias("h"))
        .select(registrable_domain("h").alias("domain"))
    )
    return resolved.groupBy("domain").agg(
        F.count("*").cast("long").alias("n_links")
    )


_ROBOTS_FIXTURE = [
    "User-agent: *\nDisallow: /private/\nAllow: /private/ok.html\n",
    "User-agent: trainbot\nDisallow: /\n\nUser-agent: *\nDisallow: /tmp/\n",
    "User-agent: *\nDisallow: /*.pdf$\nAllow: /docs/\n# comment line\n",
    "\n",
]
_ROBOTS_PATHS = [
    "/private/ok.html",
    "/private/secret.html",
    "/docs/x.pdf",
    "/docs/page.html",
    "/tmp/y",
]


@q(
    "robots_admission",
    """
    SELECT doc_id, 'h' || (doc_id % 4) || '.com' AS host,
      CASE doc_id % 5
        WHEN 0 THEN '/private/ok.html' WHEN 1 THEN '/private/secret.html'
        WHEN 2 THEN '/docs/x.pdf' WHEN 3 THEN '/docs/page.html'
        ELSE '/tmp/y' END AS path,
      CAST(CASE WHEN doc_id % 4 = 1 THEN 0
                WHEN doc_id % 4 = 0 AND doc_id % 5 = 1 THEN 0
                WHEN doc_id % 4 = 2 AND doc_id % 5 = 2 THEN 0
                ELSE 1 END AS BIGINT) AS allowed
    FROM documents WHERE doc_id < 160
    """,
)
def robots_admission(spark, sf_dir):
    """RFC 9309 URL admission: parse four fixture robots.txt bodies
    (wildcard + $-anchor patterns, exact-agent group shadowing '*',
    allow-beats-disallow on equal length, longest-match precedence,
    comments, blank hosts) and gate a 160-URL table for agent
    'trainbot'. Rules are broadcast — zero shuffle added to the URL
    side. Oracle states the RFC outcome arithmetically."""
    from .operators.robots import parse_robots, robots_allowed

    d = _t(spark, sf_dir, "documents")
    robots = d.where(F.col("doc_id") < 4).select(
        F.concat(F.lit("h"), F.col("doc_id").cast("string"), F.lit(".com")).alias(
            "host"
        ),
        F.element_at(
            F.array(*[F.lit(c) for c in _ROBOTS_FIXTURE]),
            (F.col("doc_id") + 1).cast("int"),
        ).alias("content"),
    )
    urls = d.where(F.col("doc_id") < 160).select(
        "doc_id",
        F.concat(
            F.lit("h"), (F.col("doc_id") % 4).cast("string"), F.lit(".com")
        ).alias("host"),
        F.element_at(
            F.array(*[F.lit(p) for p in _ROBOTS_PATHS]),
            (F.col("doc_id") % 5 + 1).cast("int"),
        ).alias("path"),
    )
    out = robots_allowed(urls, parse_robots(robots), agent="trainbot")
    return out.select(
        "doc_id", "host", "path", F.col("allowed").cast("long").alias("allowed")
    )


@q(
    "text_normalize_nfc",
    """
    SELECT doc_id,
           'na' || chr(239) || 've caf' || chr(233) || ' r' || chr(233) ||
             'sum' || chr(233) || ' ' || doc_id AS text_nfc,
           CAST(22 + length(CAST(doc_id AS VARCHAR)) AS BIGINT) AS n_before,
           CAST(18 + length(CAST(doc_id AS VARCHAR)) AS BIGINT) AS n_after
    FROM documents WHERE doc_id < 150
    """,
)
def text_normalize_nfc(spark, sf_dir):
    """Unicode NFC normalization (the precondition for any text-hash
    dedup): decomposed fixture text (4 combining marks, built from
    explicit \\u escapes so no editor/tool re-normalizes the source)
    is normalized to the precomposed form via the Arrow-batched pandas
    str.normalize pass; before/after codepoint counts pin that exactly
    4 codepoints fused. Oracle states the precomposed string via chr()
    codepoints (U+00EF, U+00E9) + counts directly."""
    from .operators.normalize import nfc_normalize_table

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 150)
    raw = F.concat(
        F.lit("nai\u0308ve cafe\u0301 re\u0301sume\u0301 "),
        F.col("doc_id").cast("string"),
    )
    src = d.select("doc_id", raw.alias("text"))
    out = nfc_normalize_table(src)
    return (
        out.join(src.select("doc_id", F.length("text").alias("n_before")), "doc_id")
        .select(
            "doc_id",
            F.col("text").alias("text_nfc"),
            F.col("n_before").cast("long").alias("n_before"),
            F.length("text").cast("long").alias("n_after"),
        )
    )


def _pq_cents_sql() -> str:
    """The PQ codebook as a 128-row VALUES table (m, k, c) — the same
    constants as operators.similarity.pq_codebook, so the oracle and the
    Spark plan quantize identically (quarter-step values are exact in
    both decimal and binary)."""
    from .operators.similarity import pq_codebook

    book = pq_codebook()
    rows = []
    for mi, sub in enumerate(book):
        for ki, cent in enumerate(sub):
            lst = "[" + ", ".join(str(v) for v in cent) + "]"
            rows.append(f"({mi}, {ki}, {lst})")
    return "cents(m, k, c) AS (VALUES " + ", ".join(rows) + ")"


_PQ_DIST = (
    "list_reduce(list_transform(list_zip({sub}, {cent}), "
    "p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2])), "
    "(x, y) -> x + y)"
)

_PQ_CODES_CTE = """
    e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
    d AS (SELECT vec_id, m, k,
            {dist} AS dist
          FROM e, cents),
    best AS (SELECT vec_id, m, k,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY dist, k) AS rn
             FROM d)
""".format(
    dist=_PQ_DIST.format(sub="embedding[m*8+1 : m*8+8]", cent="c")
)


@q(
    "ann_pq_codes",
    "WITH "
    + "{cents},"
    + _PQ_CODES_CTE
    + """
    SELECT vec_id,
           string_agg(CAST(k AS VARCHAR), '-' ORDER BY m) AS code_str
    FROM best WHERE rn = 1 GROUP BY vec_id
    """,
)
def ann_pq_codes(spark, sf_dir):
    """Product-quantization encoding (Jégou et al. 2011, public): each
    64-dim embedding compresses to 8 nearest-centroid indices (8 subspaces
    × 16 centroids, squared-L2, first-wins ties). One JVM projection per
    row — distances materialize once per subspace as the argmin fold's
    input array; no shuffle, no join, no Python. At 100 TB the codes table
    is ~32× smaller than the raw vectors — the scan PQ search reads."""
    from .operators.similarity import pq_encode

    e = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    return pq_encode(e.select("vec_id", "embedding")).select(
        "vec_id",
        F.array_join(
            F.transform("pq_code", lambda c: c.cast("string")), "-"
        ).alias("code_str"),
    )


@q(
    "ann_pq_topk",
    "WITH "
    + "{cents},"
    + _PQ_CODES_CTE
    + """,
    q AS (SELECT embedding AS qe FROM e WHERE vec_id = 0),
    ad AS (SELECT b.vec_id, b.m,
             {qdist} AS dm
           FROM best b JOIN cents c ON c.m = b.m AND c.k = b.k, q
           WHERE b.rn = 1 AND b.vec_id <> 0),
    s AS (SELECT vec_id,
            list_reduce(list(dm ORDER BY m), (x, y) -> x + y) AS adist
          FROM ad GROUP BY vec_id)
    SELECT vec_id, round(adist, 6) AS adist
    FROM s ORDER BY adist, vec_id LIMIT 10
    """.format(
        qdist=_PQ_DIST.format(sub="qe[b.m*8+1 : b.m*8+8]", cent="c.c")
    ),
)
def ann_pq_topk(spark, sf_dir):
    """Asymmetric-distance PQ search (ADC): un-quantized query vs encoded
    base — approximate distance = ordered fold over the 8 per-subspace
    ‖q_sub − C[m][code]‖² terms (sequential in BOTH engines:
    aggregate-init-0.0 ≡ list_reduce over the m-ordered list). 1-row
    broadcast query, TakeOrderedAndProject top-10 — no shuffle before the
    final ordering."""
    from .operators.similarity import pq_topk

    e = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    return pq_topk(e.select("vec_id", "embedding"), query_vec_id=0, topk=10)


# inject the shared codebook constants into both PQ oracles
for _pq_name in ("ann_pq_codes", "ann_pq_topk"):
    _fn, _sql = QUERIES[_pq_name]
    QUERIES[_pq_name] = (_fn, _sql.replace("{cents}", _pq_cents_sql()))
del _pq_name, _fn, _sql


# ===========================================================================
# Paragraph-level dedup (CCNet, Wenzek et al. 2020 §3)
# ===========================================================================

_PARA_FIXTURE_SQL = """
  SELECT doc_id,
         'Terms and conditions apply to every statement.' || chr(10) ||
         'Unique body content for document ' || doc_id || '.' || chr(10) ||
         'Promo bucket ' || (doc_id % 7) || ' offer text.' AS text
  FROM documents WHERE doc_id < 400
"""

_PARA_EXPLODE_SQL = """
    s AS (SELECT doc_id, string_split(text, chr(10)) AS ps FROM d),
    p AS (SELECT doc_id, i - 1 AS pos, ps[i] AS para,
                 lower(trim(regexp_replace(ps[i], '\\s+', ' ', 'g'))) AS k
          FROM (SELECT doc_id, ps,
                       unnest(generate_series(1, len(ps))) AS i
                FROM s))
"""


def _para_fixture(spark, sf_dir) -> DataFrame:
    """Deterministic 3-paragraph docs: one global boilerplate paragraph,
    one doc-unique body, one paragraph shared within doc_id%7 buckets."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    text = F.concat(
        F.lit("Terms and conditions apply to every statement.\n"),
        F.lit("Unique body content for document "),
        F.col("doc_id").cast("string"),
        F.lit(".\n"),
        F.lit("Promo bucket "),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(" offer text."),
    )
    return d.select("doc_id", text.alias("text"))


@q(
    "dedup_paragraph_ccnet",
    "WITH d AS ("
    + _PARA_FIXTURE_SQL
    + "),"
    + _PARA_EXPLODE_SQL
    + """,
    w AS (SELECT k, min(doc_id * 1000000 + pos) AS winner
          FROM p WHERE length(k) > 0 GROUP BY k),
    kp AS (SELECT p.doc_id, p.pos, p.para,
                  (length(p.k) = 0
                   OR p.doc_id * 1000000 + p.pos = w.winner) AS kept
           FROM p LEFT JOIN w ON p.k = w.k)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_paras,
           CAST(count(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
           coalesce(string_agg(para, chr(10) ORDER BY pos)
                      FILTER (WHERE kept), '') AS text_deduped
    FROM kp GROUP BY doc_id
    """,
)
def dedup_paragraph_ccnet(spark, sf_dir):
    """CCNet paragraph dedup (Wenzek et al. 2020 §3): the first corpus-wide
    occurrence of each normalized paragraph survives, documents are
    reassembled in original order. On the fixture, exactly one doc keeps
    the boilerplate paragraph, one doc per % 7 bucket keeps the promo
    paragraph, every doc keeps its unique body. Winner = packed
    min(doc_id*1e6+pos) BIGINT — identical integer arithmetic in both
    engines (DuckDB arg_min rejects struct keys). Three shuffles, all on
    growing-cardinality keys; the hot boilerplate key collapses map-side
    in the partial min."""
    from .operators.paragraphs import dedup_paragraphs

    return dedup_paragraphs(_para_fixture(spark, sf_dir))


@q(
    "text_paragraph_dup_profile",
    "WITH d AS ("
    + _PARA_FIXTURE_SQL
    + "),"
    + _PARA_EXPLODE_SQL
    + """,
    c AS (SELECT k, count(*) AS occ FROM p WHERE length(k) > 0 GROUP BY k)
    SELECT p.doc_id,
           CAST(count(*) AS BIGINT) AS n_paras,
           CAST(count(*) FILTER (WHERE c.occ > 1) AS BIGINT) AS n_dup_paras,
           CAST(floor(CAST(coalesce(sum(CASE WHEN c.occ > 1
                                             THEN length(p.para) END), 0)
                           AS DOUBLE) * 1000000.0
                      / greatest(sum(length(p.para)), 1)) AS BIGINT)
             AS dup_char_ppm
    FROM p LEFT JOIN c ON p.k = c.k
    GROUP BY p.doc_id
    """,
)
def text_paragraph_dup_profile(spark, sf_dir):
    """Gate form of paragraph dedup: per-doc share of characters sitting in
    corpus-duplicated paragraphs, as floor-ppm BIGINT (cross-engine exact
    integer → double → floor). Two hash aggregates (paragraph key, then
    doc) + one join — no text rewrite, the shape a threshold filter
    actually runs."""
    from .operators.paragraphs import paragraph_duplication_profile

    return paragraph_duplication_profile(_para_fixture(spark, sf_dir))


# ===========================================================================
# Model-based quality filter (fastText hashing trick, Joulin et al. 2016)
# ===========================================================================


def _quality_model_sql() -> str:
    from .operators.quality_model import (
        BIAS,
        oracle_bucket_sql,
        weight_values_sql,
    )

    return f"""
    WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
    toks AS (
      SELECT doc_id,
             unnest(list_filter(
               string_split(trim(regexp_replace(lower(text),
                            '[^a-z0-9]+', ' ', 'g')), ' '),
               w -> length(w) > 0)) AS tok
      FROM d),
    feats AS (
      SELECT doc_id, tok AS feature FROM toks
      UNION ALL
      SELECT doc_id, substring(tok, i, 3) AS feature
      FROM (SELECT doc_id, tok,
                   unnest(generate_series(1, length(tok) - 2)) AS i
            FROM toks WHERE length(tok) >= 3)),
    b AS (SELECT doc_id, {oracle_bucket_sql('feature')} AS bucket
          FROM feats),
    wt AS (SELECT * FROM (VALUES {weight_values_sql()}) AS t(bucket, w)),
    per AS (SELECT b.doc_id, count(*) AS nf, sum(wt.w) AS wsum
            FROM b JOIN wt ON b.bucket = wt.bucket GROUP BY b.doc_id)
    SELECT d.doc_id,
      CAST(coalesce(per.nf, 0) AS BIGINT) AS n_features,
      CAST(coalesce(per.wsum, 0) + coalesce(per.nf, 0) * ({BIAS})
           AS BIGINT) AS score_milli,
      CASE WHEN coalesce(per.wsum, 0) + coalesce(per.nf, 0) * ({BIAS}) > 0
           THEN 'keep' ELSE 'junk' END AS label
    FROM d LEFT JOIN per ON d.doc_id = per.doc_id
    """


@q("text_quality_model", None)  # SQL injected below (import-order safe)
def text_quality_model(spark, sf_dir):
    """Learned linear quality filter (fastText hashing trick): hashed
    token + char-trigram features, integer milli-weights trained at
    import from the inline labeled corpus, BIGINT score — bit-identical
    in DuckDB via the same rolling-hash fold and weight VALUES table.
    One explode + broadcast weight join + one doc-keyed groupBy; held-out
    accuracy pinned in tests/test_quality_model.py."""
    from .operators.quality_model import score_documents

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return score_documents(d.select("doc_id", "text"))


_fn_qm, _ = QUERIES["text_quality_model"]
QUERIES["text_quality_model"] = (_fn_qm, _quality_model_sql())
del _fn_qm


# ===========================================================================
# Span -> Markdown serialization (the export format of extraction pipelines)
# ===========================================================================


@q("render_markdown", None)  # SQL spliced from the pdf_layout_spans oracle
def render_markdown_q(spark, sf_dir):
    """Layout spans rendered to markdown: text spans become paragraphs,
    the in-flow figure becomes a GFM image, joined with blank lines in
    offset order — the export chain layout → spans → markdown over the
    same deterministic two-column fixture as pdf_layout_spans. One
    bounded per-doc aggregate on top of the layout plan."""
    from .operators.layout import layout_spans, positioned_runs
    from .operators.markdown import render_markdown

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    runs = positioned_runs(
        _layout_pdf_pages(d.select("doc_id", "text"), _media_column_page)
    )
    return render_markdown(layout_spans(runs))


@q("render_markdown_table", None)  # SQL spliced from the pdf_table_extract oracle
def render_markdown_table_q(spark, sf_dir):
    """Structured cells rendered as a GFM pipe table (header, ``| --- |``
    delimiter, body rows; the knocked-out cell's row simply has fewer
    cells). Two bounded aggregates — (doc, row) then doc."""
    from .operators.layout import positioned_runs, table_cells
    from .operators.markdown import render_markdown_table

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    runs = positioned_runs(
        _layout_pdf_pages(d.select("doc_id", "text"), _table_missing_cell_page)
    )
    return render_markdown_table(table_cells(runs))


def _markdown_oracles() -> None:
    spans_sql = QUERIES["pdf_layout_spans"][1]
    md_sql = f"""
    WITH spans AS ({spans_sql})
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
           string_agg(CASE WHEN kind = 'media'
                           THEN '![](' || media_ref || ')'
                           ELSE text END,
                      chr(10) || chr(10) ORDER BY "offset") AS markdown
    FROM spans GROUP BY doc_id
    """
    fn, _ = QUERIES["render_markdown"]
    QUERIES["render_markdown"] = (fn, md_sql)

    cells_sql = QUERIES["pdf_table_extract"][1]
    tbl_sql = f"""
    WITH cells AS ({cells_sql}),
    lines AS (
      SELECT doc_id, "row" AS r, count(*) AS nc,
             '| ' || string_agg(cell_text, ' | ' ORDER BY col) || ' |'
               AS md_row
      FROM cells GROUP BY doc_id, "row"),
    asm AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(max(nc) AS BIGINT) AS n_cols,
             list(md_row ORDER BY r) AS ls
      FROM lines GROUP BY doc_id)
    SELECT doc_id, n_rows, n_cols,
           ls[1] || chr(10) || '|' || repeat(' --- |', CAST(n_cols AS INT))
           || CASE WHEN len(ls) > 1
                   THEN chr(10) || array_to_string(ls[2:], chr(10))
                   ELSE '' END AS markdown
    FROM asm
    """
    fn, _ = QUERIES["render_markdown_table"]
    QUERIES["render_markdown_table"] = (fn, tbl_sql)


_markdown_oracles()


# ===========================================================================
# Crawl discovery & page metadata (sitemaps.org protocol, OpenGraph)
# ===========================================================================

_SITEMAP_FIXTURE_SQL = """
  SELECT b.doc_id,
    '<?xml version="1.0"?>' || chr(10) ||
    '<urlset>' || chr(10) || b.urls || chr(10) ||
    CASE WHEN b.doc_id % 4 = 0
         THEN '<sitemap ><loc>https://site' || (b.doc_id % 5)
              || '.example/sub' || b.doc_id || '.xml</loc></sitemap >' || chr(10)
         ELSE '' END ||
    '</urlset>' AS xml
  FROM (
    SELECT doc_id, string_agg(
      '  <url>' || chr(10) ||
      '    <loc> https://site' || (doc_id % 5) || '.example/p' || i
        || ' </loc>' || chr(10) ||
      CASE WHEN (doc_id + i) % 3 <> 0
           THEN '    <lastmod>2026-0' || (1 + (doc_id + i) % 9)
                || '-15</lastmod>' || chr(10) ELSE '' END ||
      '    <changefreq>' || (['daily','weekly','monthly'])[1 + (doc_id + i) % 3]
        || '</changefreq>' || chr(10) ||
      '    <priority>0.' || (5 + i % 5) || '</priority>' || chr(10) ||
      '  </url>', chr(10) ORDER BY i) AS urls
    FROM (SELECT doc_id, unnest(generate_series(0, 1 + doc_id % 3)) AS i
          FROM documents WHERE doc_id < 120)
    GROUP BY doc_id) b
"""


def _sitemap_fixture(spark, sf_dir) -> DataFrame:
    """Deterministic sitemap XML: 2-4 <url> entries (lastmod present only
    when (doc_id+i)%3 != 0, loc padded with whitespace, multi-line), plus
    a <sitemapindex>-style child on doc_id%4==0 — identical construction
    to _SITEMAP_FIXTURE_SQL."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 120)
    did = F.col("doc_id")
    freq = F.array(F.lit("daily"), F.lit("weekly"), F.lit("monthly"))

    def url_block(i):
        return F.concat(
            F.lit("  <url>\n    <loc> https://site"),
            (did % 5).cast("string"),
            F.lit(".example/p"),
            i.cast("string"),
            F.lit(" </loc>\n"),
            F.when(
                (did + i) % 3 != 0,
                F.concat(
                    F.lit("    <lastmod>2026-0"),
                    (1 + (did + i) % 9).cast("string"),
                    F.lit("-15</lastmod>\n"),
                ),
            ).otherwise(F.lit("")),
            F.lit("    <changefreq>"),
            F.element_at(freq, (1 + (did + i) % 3).cast("int")),
            F.lit("</changefreq>\n    <priority>0."),
            (5 + i % 5).cast("string"),
            F.lit("</priority>\n  </url>"),
        )

    urls = F.array_join(
        F.transform(F.sequence(F.lit(0), 1 + did % 3), url_block), "\n"
    )
    child = F.when(
        did % 4 == 0,
        F.concat(
            F.lit("<sitemap ><loc>https://site"),
            (did % 5).cast("string"),
            F.lit(".example/sub"),
            did.cast("string"),
            F.lit(".xml</loc></sitemap >\n"),
        ),
    ).otherwise(F.lit(""))
    xml = F.concat(
        F.lit('<?xml version="1.0"?>\n<urlset>\n'),
        urls,
        F.lit("\n"),
        child,
        F.lit("</urlset>"),
    )
    return d.select("doc_id", xml.alias("xml"))


@q(
    "sitemap_parse",
    "WITH d AS ("
    + _SITEMAP_FIXTURE_SQL
    + """),
    u AS (SELECT doc_id, xml,
                 regexp_extract_all(xml, '(?is)<url\\s*>(.*?)</url\\s*>', 1)
                   AS ue,
                 regexp_extract_all(
                   xml, '(?is)<sitemap\\s*>(.*?)</sitemap\\s*>', 1) AS se
          FROM d),
    ent AS (
      SELECT doc_id, i - 1 AS entry_idx, 'url' AS kind, ue[i] AS e
      FROM (SELECT doc_id, ue,
                   unnest(generate_series(1, len(ue))) AS i FROM u)
      UNION ALL
      SELECT doc_id, len(ue) + i - 1, 'sitemap', se[i]
      FROM (SELECT doc_id, ue, se,
                   unnest(generate_series(1, len(se))) AS i FROM u))
    SELECT doc_id, CAST(entry_idx AS BIGINT) AS entry_idx, kind,
      regexp_extract(e, '(?is)<loc\\s*>\\s*(.*?)\\s*</loc\\s*>', 1) AS loc,
      regexp_extract(e, '(?is)<lastmod\\s*>\\s*(.*?)\\s*</lastmod\\s*>', 1)
        AS lastmod,
      regexp_extract(
        e, '(?is)<changefreq\\s*>\\s*(.*?)\\s*</changefreq\\s*>', 1)
        AS changefreq,
      regexp_extract(e, '(?is)<priority\\s*>\\s*(.*?)\\s*</priority\\s*>', 1)
        AS priority
    FROM ent
    WHERE length(regexp_extract(
      e, '(?is)<loc\\s*>\\s*(.*?)\\s*</loc\\s*>', 1)) > 0
    """,
)
def sitemap_parse(spark, sf_dir):
    """Sitemap frontier reader (sitemaps.org protocol): urlset entries +
    sitemapindex children as one ordered entry stream per document, with
    loc/lastmod/changefreq/priority fields. Same RE2 patterns in both
    engines over the identically-constructed fixture XML; one projection
    + posexplode, no shuffle."""
    from .operators.crawlmeta import parse_sitemap

    return parse_sitemap(_sitemap_fixture(spark, sf_dir))


def _page_meta_sql() -> str:
    """Oracle generated from the SAME RE2 patterns as the operator —
    zero drift between engines."""
    from .operators.crawlmeta import _CANON_FWD, _CANON_REV, _TITLE, META_FIELDS

    esc = lambda p: p.replace("'", "''")  # noqa: E731

    def first(fwd: str, rev: str) -> str:
        return (
            f"coalesce(nullif(regexp_extract(html, '{esc(fwd)}', 1), ''), "
            f"nullif(regexp_extract(html, '{esc(rev)}', 1), ''), '')"
        )

    fields = ", ".join(
        f"{first(fwd, rev)} AS {name}" for name, (fwd, rev) in META_FIELDS.items()
    )
    return f"""
    WITH d AS (
      SELECT doc_id,
        '<html><head>' || chr(10) ||
        '<title>  Page ' || doc_id || ' of site' || (doc_id % 5)
          || '  </title>' || chr(10) ||
        CASE doc_id % 3
          WHEN 0 THEN '<meta property="og:title" content="OG Page '
                      || doc_id || '">'
          WHEN 1 THEN '<meta content=''OG Page ' || doc_id
                      || ''' property=''og:title''>'
          ELSE '<meta data-x="1" property="og:title" content="OG Page '
               || doc_id || '" />'
        END || chr(10) ||
        '<meta property="og:description" content="About page '
          || doc_id || '.">' || chr(10) ||
        CASE WHEN doc_id % 2 = 0
             THEN '<meta property="og:image" content="https://img.site'
                  || (doc_id % 5) || '.example/i' || doc_id || '.png">'
                  || chr(10)
             ELSE '' END ||
        '<meta name="description" content="Plain description '
          || doc_id || '">' || chr(10) ||
        CASE WHEN doc_id % 2 = 0
             THEN '<link rel="canonical" href="https://site' || (doc_id % 5)
                  || '.example/canon/' || doc_id || '">'
             ELSE '<link href=''https://site' || (doc_id % 5)
                  || '.example/canon/' || doc_id || ''' rel=''canonical''>'
        END || chr(10) || '</head><body>x</body></html>' AS html
      FROM documents WHERE doc_id < 150)
    SELECT doc_id,
      trim(regexp_extract(html, '{esc(_TITLE)}', 1)) AS title,
      {fields},
      {first(_CANON_FWD, _CANON_REV)} AS canonical
    FROM d
    """


def _page_meta_fixture(spark, sf_dir) -> DataFrame:
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 150)
    did = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    og_title = (
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit('<meta property="og:title" content="OG Page '),
                s(did),
                F.lit('">'),
            ),
        )
        .when(
            did % 3 == 1,
            F.concat(
                F.lit("<meta content='OG Page "),
                s(did),
                F.lit("' property='og:title'>"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit('<meta data-x="1" property="og:title" content="OG Page '),
                s(did),
                F.lit('" />'),
            )
        )
    )
    og_image = F.when(
        did % 2 == 0,
        F.concat(
            F.lit('<meta property="og:image" content="https://img.site'),
            s(did % 5),
            F.lit(".example/i"),
            s(did),
            F.lit('.png">\n'),
        ),
    ).otherwise(F.lit(""))
    canonical = F.when(
        did % 2 == 0,
        F.concat(
            F.lit('<link rel="canonical" href="https://site'),
            s(did % 5),
            F.lit(".example/canon/"),
            s(did),
            F.lit('">'),
        ),
    ).otherwise(
        F.concat(
            F.lit("<link href='https://site"),
            s(did % 5),
            F.lit(".example/canon/"),
            s(did),
            F.lit("' rel='canonical'>"),
        )
    )
    html = F.concat(
        F.lit("<html><head>\n<title>  Page "),
        s(did),
        F.lit(" of site"),
        s(did % 5),
        F.lit("  </title>\n"),
        og_title,
        F.lit("\n"),
        F.lit('<meta property="og:description" content="About page '),
        s(did),
        F.lit('.">\n'),
        og_image,
        F.lit('<meta name="description" content="Plain description '),
        s(did),
        F.lit('">\n'),
        canonical,
        F.lit("\n</head><body>x</body></html>"),
    )
    return d.select("doc_id", html.alias("html"))


@q("html_page_meta", None)  # SQL injected below (needs module import)
def html_page_meta(spark, sf_dir):
    """Page-metadata extraction (title / OpenGraph / canonical /
    description): both attribute orders and both quote styles exercised
    by the fixture variants; the oracle runs the SAME RE2 patterns
    (generated from operators/crawlmeta.META_FIELDS — no drift). Pure
    projection, no shuffle."""
    from .operators.crawlmeta import extract_page_meta

    return extract_page_meta(_page_meta_fixture(spark, sf_dir))


_fn_pm, _ = QUERIES["html_page_meta"]
QUERIES["html_page_meta"] = (_fn_pm, _page_meta_sql())
del _fn_pm


# ===========================================================================
# Learned BPE subword token counting (Sennrich et al. 2016)
# ===========================================================================


def _bpe_sql() -> str:
    from .operators.bpe import oracle_count_sql, oracle_encode_sql

    return f"""
    WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
    toks AS (
      SELECT doc_id,
             unnest(list_filter(
               string_split(trim(regexp_replace(lower(text),
                            '[^a-z0-9]+', ' ', 'g')), ' '),
               w -> length(w) > 0)) AS tok
      FROM d),
    vocab AS (SELECT tok, {oracle_encode_sql('tok')} AS enc
              FROM (SELECT DISTINCT tok FROM toks)),
    vc AS (SELECT tok, {oracle_count_sql('enc')} AS n_sub FROM vocab),
    per AS (SELECT doc_id, count(*) AS nw, sum(n_sub) AS nt
            FROM toks JOIN vc USING (tok) GROUP BY doc_id)
    SELECT d.doc_id,
      CAST(coalesce(per.nw, 0) AS BIGINT) AS n_words,
      CAST(coalesce(per.nt, 0) AS BIGINT) AS n_bpe_tokens
    FROM d LEFT JOIN per ON d.doc_id = per.doc_id
    """


@q("text_bpe_token_count", None)  # SQL injected below
def text_bpe_token_count(spark, sf_dir):
    """Real learned BPE token counting (replaces the whitespace/regex
    proxy as the budgeting tokenizer): merges trained at import on the
    inline seed corpus, encoding = rank-ordered literal-replace chain
    over bracket-wrapped symbols — provably equivalent to the greedy
    reference loop (merging never creates an adjacency for an earlier
    pair) and byte-identical in DuckDB. Vocabulary-sized encode (distinct
    tokens), occurrence counts join back by equi-join."""
    from .operators.bpe import bpe_token_counts

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return bpe_token_counts(d.select("doc_id", "text"))


_fn_bpe, _ = QUERIES["text_bpe_token_count"]
QUERIES["text_bpe_token_count"] = (_fn_bpe, _bpe_sql())
del _fn_bpe


@q(
    "events_session_windows",
    """
    WITH e AS (SELECT event_type, ts, value FROM events),
    l AS (
      SELECT event_type, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY event_type ORDER BY ts)
                       <= INTERVAL 30 MINUTE
                  THEN 0 ELSE 1 END AS brk
      FROM e),
    g AS (
      SELECT event_type, ts, value,
             sum(brk) OVER (PARTITION BY event_type ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM l)
    SELECT event_type,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S')
             AS session_end,
           count(*) AS n,
           CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_c
    FROM g GROUP BY event_type, sid
    """,
)
def events_session_windows(spark, sf_dir):
    """§2.11 session windows, batch form: ``F.session_window`` (dynamic
    extents — session end = last event + gap; Catalyst's native session
    merge) vs a DuckDB gaps-and-islands twin (lag-break running sum).
    The streaming twin (streaming/stream.py:sessionized_event_counts) is
    pinned equal to this aggregation in test_streaming."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_cents(F.col("value"))).alias("value_c"),
        )
        .select(
            "event_type",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format(F.col("w.end"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            "n",
            "value_c",
        )
    )


@q(
    "dedup_incremental_exact",
    """
    WITH seen AS (
      SELECT DISTINCT md5(text) AS content_hash
      FROM documents WHERE doc_id < 100),
    batch AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 5 = 4
                      THEN (SELECT text FROM documents d2
                            WHERE d2.doc_id = d.doc_id % 100)
                      WHEN doc_id % 5 = 3
                      THEN 'batch dup family ' || (doc_id % 10)
                      ELSE text END) AS content_hash
      FROM documents d WHERE doc_id >= 100 AND doc_id < 400),
    keep AS (SELECT content_hash, min(doc_id) AS keeper
             FROM batch GROUP BY content_hash)
    SELECT b.doc_id, b.content_hash,
           CASE WHEN s.content_hash IS NOT NULL THEN 'seen'
                WHEN b.doc_id <> k.keeper THEN 'dup_in_batch'
                ELSE 'new' END AS status
    FROM batch b
    JOIN keep k ON b.content_hash = k.content_hash
    LEFT JOIN seen s ON b.content_hash = s.content_hash
    """,
)
def dedup_incremental_exact(spark, sf_dir):
    """Incremental ingest dedup: docs 0-99 are the already-ingested store;
    the batch (100-399) contains cross-batch dups (doc_id%5==4 reuses a
    stored doc's text), within-batch dup families (%5==3 share synthetic
    text), and genuinely new docs. Every row classified seen /
    dup_in_batch / new with the deterministic min-id keeper; one
    map-side-combining aggregate + two hash-keyed equi-joins."""
    from .operators.dedup import incremental_exact_dedup

    d = _t(spark, sf_dir, "documents")
    store_docs = d.where(F.col("doc_id") < 100)
    seen = store_docs.select(F.md5("text").alias("content_hash"))
    batch = d.alias("b").where(
        (F.col("doc_id") >= 100) & (F.col("doc_id") < 400)
    )
    # cross-batch dup rows take the text of stored doc (doc_id % 100)
    reused = batch.where(F.col("doc_id") % 5 == 4).join(
        store_docs.select(
            F.col("doc_id").alias("src_id"), F.col("text").alias("src_text")
        ),
        F.col("b.doc_id") % 100 == F.col("src_id"),
    ).select(F.col("b.doc_id").alias("doc_id"), F.col("src_text").alias("text"))
    fam = batch.where(F.col("doc_id") % 5 == 3).select(
        "doc_id",
        F.concat(
            F.lit("batch dup family "), (F.col("doc_id") % 10).cast("string")
        ).alias("text"),
    )
    rest = batch.where(
        (F.col("doc_id") % 5 != 4) & (F.col("doc_id") % 5 != 3)
    ).select("doc_id", "text")
    new_docs = reused.unionByName(fam).unionByName(rest)
    return incremental_exact_dedup(new_docs, seen)


# ===========================================================================
# Composed filter stack: the full keep/drop decision (CCNet/Gopher shape)
# ===========================================================================


@q("corpus_filter_stack", None)  # SQL composed from the component oracles
def corpus_filter_stack(spark, sf_dir):
    """The decision layer a real corpus pipeline runs: repetition gates
    (Gopher), learned quality score (fastText shape) and language-ID
    joined per document into one keep/drop verdict with named reasons —
    composed from the SAME three registered queries (and on the SQL side
    from their registered oracles verbatim), so the integration row can
    only pass if the components agree end-to-end. Three doc-keyed
    equi-joins; reasons are a fixed-order concat_ws (both engines skip
    NULLs)."""
    rep = QUERIES["text_repetition"][0](spark, sf_dir)
    qm = QUERIES["text_quality_model"][0](spark, sf_dir)
    lg = QUERIES["text_lang_id_ngram"][0](spark, sf_dir)
    j = (
        rep.join(qm, "doc_id")
        .join(lg, "doc_id")
    )
    r_model = F.when(F.col("label") != "keep", F.lit("junk_model"))
    r_2g = F.when(F.col("top2gram_ppm") >= 200000, F.lit("repetitive_2gram"))
    r_5g = F.when(F.col("dup5gram_ppm") >= 300000, F.lit("repetitive_5gram"))
    r_und = F.when(F.col("predicted") == "und", F.lit("lang_unknown"))
    reasons = F.concat_ws(",", r_model, r_2g, r_5g, r_und)
    return j.select(
        "doc_id",
        "predicted",
        "score_milli",
        "top2gram_ppm",
        "dup5gram_ppm",
        F.when(reasons == "", F.lit("keep")).otherwise(F.lit("drop")).alias(
            "decision"
        ),
        reasons.alias("reasons"),
    )


def _filter_stack_sql() -> str:
    rep = QUERIES["text_repetition"][1]
    qm = QUERIES["text_quality_model"][1]
    lg = QUERIES["text_lang_id_ngram"][1]
    return f"""
    WITH r AS ({rep}), qm AS ({qm}), lg AS ({lg}),
    j AS (
      SELECT r.doc_id, lg.predicted, qm.score_milli, qm.label,
             r.top2gram_ppm, r.dup5gram_ppm,
             concat_ws(',',
               CASE WHEN qm.label <> 'keep' THEN 'junk_model' END,
               CASE WHEN r.top2gram_ppm >= 200000
                    THEN 'repetitive_2gram' END,
               CASE WHEN r.dup5gram_ppm >= 300000
                    THEN 'repetitive_5gram' END,
               CASE WHEN lg.predicted = 'und' THEN 'lang_unknown' END)
               AS reasons
      FROM r JOIN qm ON r.doc_id = qm.doc_id
             JOIN lg ON r.doc_id = lg.doc_id)
    SELECT doc_id, predicted, score_milli, top2gram_ppm, dup5gram_ppm,
           CASE WHEN reasons = '' THEN 'keep' ELSE 'drop' END AS decision,
           reasons
    FROM j
    """


_fn_fs, _ = QUERIES["corpus_filter_stack"]
QUERIES["corpus_filter_stack"] = (_fn_fs, _filter_stack_sql())
del _fn_fs


# ===========================================================================
# Perceptual image dedup: dHash + banded Hamming pairs (the media dedup leg)
# ===========================================================================

# cell pattern (8 rows x 9 cols of 2x2-px blocks in an 18x16 image):
#   base(doc,r,c) = (((doc%7)*31 + r*9 + c) % 7) % 2   -- 7 image families
#   flip: odd docs invert the single cell r*9+c == doc%72 -- hamming jitter
# dHash bit (r,c in 0..7) = cell(r,c)==1 AND cell(r,c+1)==0, bit k = r*8+c.
_DHASH_CELLS_SQL = """
    cells AS (
      SELECT doc_id, r, c,
             CASE WHEN (doc_id % 2 = 1 AND r * 9 + c = doc_id % 72)
                  THEN 1 - b ELSE b END AS v
      FROM (
        SELECT doc_id, i // 9 AS r, i % 9 AS c,
               (((doc_id % 7) * 31 + i) % 7) % 2 AS b
        FROM (SELECT doc_id, unnest(generate_series(0, 71)) AS i FROM dh_docs))),
    dbits AS (
      SELECT a.doc_id, a.r * 8 + a.c AS k,
             CASE WHEN a.v = 1 AND n.v = 0 THEN 1 ELSE 0 END AS bit
      FROM cells a JOIN cells n
        ON a.doc_id = n.doc_id AND a.r = n.r AND n.c = a.c + 1
      WHERE a.c < 8),
    dh AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN k < 63 THEN bit * (CAST(1 AS BIGINT) << k)
                           ELSE bit * (-9223372036854775808) END)
                  AS BIGINT) AS dhash
      FROM dbits GROUP BY doc_id)
"""


def _dhash_cell_py(doc_id: int, r: int, c: int) -> int:
    b = (((doc_id % 7) * 31 + r * 9 + c) % 7) % 2
    if doc_id % 2 == 1 and r * 9 + c == doc_id % 72:
        b = 1 - b
    return b


def _dhash_fixture(spark, sf_dir, limit: int) -> DataFrame:
    """18x16 grayscale PNGs whose 2x2-px blocks follow the cell pattern —
    the decode → block-average → compare path then lands exactly on the
    arithmetic dHash the oracle recomputes."""
    import pandas as pd
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from .operators.image_codec import encode_png

    d = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < limit)
        .select("doc_id")
    )
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
    )

    def gen(it):
        for pdf in it:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                px = bytearray()
                for y in range(16):
                    for x in range(18):
                        px.append(255 * _dhash_cell_py(did, y // 2, x // 2))
                payloads.append(encode_png(18, 16, 1, bytes(px)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return d.mapInPandas(gen, schema=schema)


@q(
    "multimodal_image_dhash",
    "WITH dh_docs AS (SELECT doc_id FROM documents WHERE doc_id < 120),"
    + _DHASH_CELLS_SQL
    + """
    SELECT doc_id, CAST(18 AS INT) AS width, CAST(16 AS INT) AS height, dhash
    FROM dh
    """,
)
def multimodal_image_dhash(spark, sf_dir):
    """Perceptual fingerprint of REAL decoded images: 18x16 PNGs built from
    the deterministic cell pattern, decoded and dHashed through the Arrow
    path (downscale to a 9x8 luma grid by block means, bit = left>right);
    the oracle recomputes the 64-bit signed hash arithmetically. Flat
    mapInPandas, no shuffle."""
    from .operators.multimodal import image_dhash

    return image_dhash(_dhash_fixture(spark, sf_dir, 120))


@q(
    "multimodal_dhash_pairs",
    "WITH dh_docs AS (SELECT doc_id FROM documents WHERE doc_id < 56),"
    + _DHASH_CELLS_SQL
    + """
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
    FROM dh a JOIN dh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.dhash, b.dhash)) <= 7
    """,
)
def multimodal_dhash_pairs(spark, sf_dir):
    """Media near-dup end-to-end: dHash the decoded images, then the SAME
    banded Hamming-ball join as text SimHash (8x8-bit bands over 64 bits —
    pigeonhole-exact for distance <= 7; 7 image families x 8 docs keep
    every band bucket under the sub-split cap, so the oracle's brute-force
    all-pairs is the exact expected output). The odd-doc cell flip gives
    within-family distances of 0-4 instead of all-zero."""
    from .operators.dedup import simhash_hamming_pairs
    from .operators.multimodal import image_dhash

    fps = image_dhash(_dhash_fixture(spark, sf_dir, 56)).select(
        "doc_id", "dhash"
    )
    return simhash_hamming_pairs(
        fps, fp_col="dhash", max_distance=7, n_bands=8, bits=64
    )


# ===========================================================================
# Audio near-dup fingerprint (sign-of-delta frame energy — audio dHash)
# ===========================================================================

# frame amplitudes: amp(doc,i) = 1 + ((doc*37 + i*7919) % 32000); 7919 is
# co-prime with 32000, so adjacent frames jump pseudo-randomly -> ~half the
# comparison bits set. All-integer, so the oracle compares ints while Spark
# compares the float RMS values decoded from the same 16-bit PCM (ordering
# preserved under the exact /32768 scaling).


@q(
    "multimodal_audio_ahash",
    """
    WITH a_docs AS (SELECT doc_id FROM documents WHERE doc_id < 80),
    amps AS (
      SELECT doc_id, i,
             1 + ((doc_id * 37 + i * 7919) % 32000) AS amp
      FROM (SELECT doc_id, unnest(generate_series(0, 64)) AS i FROM a_docs)),
    bits AS (
      SELECT a.doc_id, a.i AS k,
             CASE WHEN a.amp > n.amp THEN 1 ELSE 0 END AS bit
      FROM amps a JOIN amps n ON a.doc_id = n.doc_id AND n.i = a.i + 1
      WHERE a.i < 64)
    SELECT doc_id, CAST(6500 AS INT) AS n_samples,
           CAST(sum(CASE WHEN k < 63 THEN bit * (CAST(1 AS BIGINT) << k)
                         ELSE bit * (-9223372036854775808) END)
                AS BIGINT) AS ahash
    FROM bits GROUP BY doc_id
    """,
)
def multimodal_audio_ahash(spark, sf_dir):
    """Audio near-dup fingerprint over REAL decoded WAV PCM: 65 constant-
    amplitude frames of 100 samples each, decoded through the from-scratch
    codec, framed, RMS'd and sign-delta hashed (gain-invariant — the audio
    analogue of image dHash, third modality of the dedup family). The
    oracle recomputes the 64 bits from the integer amplitude formula."""
    import pandas as pd
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from .operators.audio_codec import encode_wav
    from .operators.multimodal import audio_ahash

    d = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 80)
        .select("doc_id")
    )
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
    )

    def gen(it):
        for pdf in it:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                samples = []
                for i in range(65):
                    amp = 1 + ((did * 37 + i * 7919) % 32000)
                    samples.extend([amp / 32768.0] * 100)
                payloads.append(encode_wav(8000, 1, samples))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return audio_ahash(d.mapInPandas(gen, schema=schema))


# ===========================================================================
# Deterministic stratified sampling (the data-mixing operator)
# ===========================================================================

_MIX_RATES = {"web": 0.25, "books": 0.75, "code": 1.0}


def _mix_sql() -> str:
    from .operators.sampling import SCALE, oracle_coin_sql

    vals = ", ".join(
        f"('{s}', {int(round(r * SCALE))})" for s, r in sorted(_MIX_RATES.items())
    )
    return f"""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN 'junk'
                  ELSE (['web','books','code'])[1 + doc_id % 3] END AS src
      FROM documents),
    c AS (SELECT doc_id, src, {oracle_coin_sql('doc_id', 'mix-v1')} AS coin
          FROM d),
    r AS (SELECT * FROM (VALUES {vals}) AS t(stratum, threshold))
    SELECT c.doc_id, c.src, c.coin
    FROM c LEFT JOIN r ON c.src = r.stratum
    WHERE c.coin < coalesce(r.threshold, 0)
    """


@q("corpus_stratified_sample", None)  # SQL injected below
def corpus_stratified_sample(spark, sf_dir):
    """Training-mix assembly: per-stratum deterministic hash-coin sampling
    (web 25% / books 75% / code 100%; the unmapped 'junk' stratum drops).
    The coin is the md5-prefix integer — bit-identical in DuckDB, stable
    under any cluster size and resume, decorrelated across salts. One
    projection + broadcast rate join, zero shuffle."""
    from .operators.sampling import stratified_sample

    d = _t(spark, sf_dir, "documents")
    src = F.when(F.col("doc_id") % 7 == 0, F.lit("junk")).otherwise(
        F.element_at(
            F.array(F.lit("web"), F.lit("books"), F.lit("code")),
            (1 + F.col("doc_id") % 3).cast("int"),
        )
    )
    return stratified_sample(
        d.select("doc_id", src.alias("src")),
        _MIX_RATES,
        stratum_col="src",
        salt="mix-v1",
    )


_fn_mix, _ = QUERIES["corpus_stratified_sample"]
QUERIES["corpus_stratified_sample"] = (_fn_mix, _mix_sql())
del _fn_mix


@q("dedup_canonical_by_quality", None)  # SQL composed below
def dedup_canonical_by_quality(spark, sf_dir):
    """Best-of-cluster selection (the RefinedWeb/CCNet step after near-dup
    clustering): duplicate clusters from the LSH components, canonical =
    the member with the highest learned quality score (tie → lowest
    doc_id, packed as score*1000 - doc_id so ``max_by`` needs only one
    integer key — DuckDB's arg_max rejects struct keys). One equi-join of
    the two registered queries + one component-keyed aggregate."""
    comp = QUERIES["dedup_components"][0](spark, sf_dir)
    qs = QUERIES["text_quality_model"][0](spark, sf_dir).select(
        "doc_id", "score_milli"
    )
    j = comp.join(qs, "doc_id")
    packed = F.col("score_milli") * 1000 - F.col("doc_id")
    return j.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max_by("doc_id", packed).alias("canonical_doc"),
        F.max("score_milli").alias("best_score_milli"),
    )


def _canonical_sql() -> str:
    comp = QUERIES["dedup_components"][1]
    qs = QUERIES["text_quality_model"][1]
    return f"""
    WITH comp AS (SELECT * FROM ({comp}) t1),
    qs AS (SELECT doc_id, score_milli FROM ({qs}) t2),
    j AS (SELECT c.doc_id, c.component, q.score_milli
          FROM comp c JOIN qs q ON c.doc_id = q.doc_id)
    SELECT component,
           CAST(count(*) AS BIGINT) AS n_members,
           max_by(doc_id, score_milli * 1000 - doc_id) AS canonical_doc,
           CAST(max(score_milli) AS BIGINT) AS best_score_milli
    FROM j GROUP BY component
    """


_fn_cq, _ = QUERIES["dedup_canonical_by_quality"]
QUERIES["dedup_canonical_by_quality"] = (_fn_cq, _canonical_sql())
del _fn_cq


# ===========================================================================
# Training-sequence packing (corpus -> fixed-length example windows)
# ===========================================================================


def _packing_sql() -> str:
    from .operators.sampling import oracle_coin_sql

    return f"""
    WITH d AS (
      SELECT doc_id,
             1 + (doc_id * 131) % 700 AS n,
             {oracle_coin_sql('doc_id', 'pack-v1')} AS ok
      FROM documents WHERE doc_id < 400),
    g AS (SELECT doc_id, n, ok, CAST(ok % 64 AS INT) AS grp FROM d),
    loc AS (
      SELECT doc_id, n, grp,
             sum(n) OVER (PARTITION BY grp ORDER BY ok, doc_id
                          ROWS UNBOUNDED PRECEDING) - n AS lcl
      FROM g),
    tot AS (SELECT grp, sum(n) AS gt FROM g GROUP BY grp),
    bas AS (SELECT grp,
                   sum(gt) OVER (ORDER BY grp ROWS UNBOUNDED PRECEDING) - gt
                     AS base
            FROM tot),
    pos AS (
      SELECT l.doc_id, l.n, CAST(b.base + l.lcl AS BIGINT) AS s
      FROM loc l JOIN bas b ON l.grp = b.grp),
    ex AS (
      SELECT doc_id, n, s,
             unnest(generate_series(s // 1024, (s + n - 1) // 1024))
               AS window_id
      FROM pos)
    SELECT doc_id, CAST(window_id AS BIGINT) AS window_id,
      CAST(greatest(s, window_id * 1024) - window_id * 1024 AS BIGINT)
        AS win_offset,
      CAST(greatest(s, window_id * 1024) - s AS BIGINT) AS doc_offset,
      CAST(least(s + n, window_id * 1024 + 1024)
           - greatest(s, window_id * 1024) AS BIGINT) AS n_toks
    FROM ex
    """


@q("corpus_pack_sequences", None)  # SQL injected below
def corpus_pack_sequences(spark, sf_dir):
    """Pack-with-splitting into 1024-token windows: deterministic md5
    shuffle order, two-level prefix sum (per-group window + tiny group
    base table broadcast back), window-span explode. Synthetic per-doc
    token counts 1 + (doc_id*131) % 700 give docs both smaller and lots
    larger-than-window; every emitted value is an exact integer."""
    from .operators.packing import pack_sequences

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    sized = d.select(
        "doc_id", (1 + (F.col("doc_id") * 131) % 700).alias("n_tokens")
    )
    return pack_sequences(sized, window_tokens=1024)


_fn_pk, _ = QUERIES["corpus_pack_sequences"]
QUERIES["corpus_pack_sequences"] = (_fn_pk, _packing_sql())
del _fn_pk


# ===========================================================================
# Benchmark decontamination (eval-set n-gram overlap, GPT-3 appendix C)
# ===========================================================================

_EVAL_PROBES = [
    "what is the capital city of the northern province and when was it founded",
    "calculate the sum of the first twelve positive even numbers showing every step",
    "translate the following sentence into french the weather is pleasant this evening",
]


def _decontam_sql() -> str:
    hit_counts = {
        k: len(t.split()) - 8 + 1 for k, t in enumerate(_EVAL_PROBES)
    }
    case_hits = " ".join(
        f"WHEN (doc_id // 9) % 3 = {k} THEN {v}" for k, v in hit_counts.items()
    )
    return f"""
    SELECT doc_id,
           (doc_id % 9 = 0) AS contaminated,
           CAST(CASE WHEN doc_id % 9 = 0 THEN (CASE {case_hits} END)
                     ELSE 0 END AS BIGINT) AS n_hits
    FROM documents WHERE doc_id < 360
    """


@q("corpus_decontaminate", None)  # SQL injected below
def corpus_decontaminate(spark, sf_dir):
    """Eval-set decontamination: docs with doc_id%9==0 get one of three
    probe passages appended; the 8-gram broadcast semi-join must flag
    exactly those, with n_hits = passage_words - 7 (the passage's own
    8-gram count — soup/passage boundary grams never match). The probe
    table is a JVM literal broadcast; the corpus side never shuffles."""
    from .operators.dedup import decontaminate

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 360)
    probe = F.element_at(
        F.array(*[F.lit(t) for t in _EVAL_PROBES]),
        (1 + (F.col("doc_id") / 9).cast("long") % 3).cast("int"),
    )
    text = F.when(
        F.col("doc_id") % 9 == 0, F.concat(F.col("text"), F.lit(" "), probe)
    ).otherwise(F.col("text"))
    return decontaminate(
        d.select("doc_id", text.alias("text")), _EVAL_PROBES, n=8
    )


_fn_dc, _ = QUERIES["corpus_decontaminate"]
QUERIES["corpus_decontaminate"] = (_fn_dc, _decontam_sql())
del _fn_dc
