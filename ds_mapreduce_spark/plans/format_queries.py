"""Format round-trip queries: grade the non-parquet source/sink paths.

Reference parity (SURVEY.md §2.1 R1/R4/R5/R6): the reference's entire
I/O surface is text files — chunked scans (src/utils.rs:9-45) and
``"key value\\n"`` interchange files (src/utils.rs:47-92), with the
whole-chunk-as-one-record read in src/worker.rs:119-120. The parquet
queries grade X1; this module grades the text path end-to-end by
ROUND-TRIPPING real table data through text sinks+sources and
hash-comparing an aggregate of the parsed-back rows against a DuckDB
oracle that never saw the text files. Any corruption in the write, the
line split, the whole-file read, or the first-space parse diverges the
hash. ``kv_text_roundtrip`` grades the line-oriented path (R1/R5/R6);
``wholetext_file_stats`` grades the R4 whole-file-as-one-record mode.

Scale notes (100 TB): the renderings are map-only projections, the
sinks per-partition text writes (no driver), the line re-scan splits at
``maxPartitionBytes``; wholetext reads one record per FILE, so the
writer bounds file sizes (here: one file per partition value via a
keyed repartition — at 100 TB, cap file size at the writer instead).
The only shuffle in each graded plan is the final aggregation's.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ds_mapreduce_spark.plans.registry import register
from ds_mapreduce_spark.sources.catalog import landed, load_table, read_parquet, read_text_corpus
from ds_mapreduce_spark.sources.kv_text import read_kv_text, write_kv_text


def _render_guard(*cols: str) -> Column:
    """Fail-loud precondition for space-delimited text renders: each
    field must be non-null and space-free, else concat_ws would silently
    drop NULLs / split(value, ' ') would misparse — producing wrong
    groups instead of an error. rlike(NULL) is NULL, so a NULL field
    also routes to the raise_error branch."""
    ok = None
    for c in cols:
        cond = F.col(c).rlike(r"^\S+$")
        ok = cond if ok is None else (ok & cond)
    return ok


def _checked_value(value: Column, guard: Column, ctx: Column) -> Column:
    return F.when(guard, value).otherwise(
        F.raise_error(
            F.concat(
                F.lit("text render precondition violated (fields must be "
                      "non-null and space-free): "),
                ctx,
            )
        )
    )


@register(
    "kv_text_roundtrip",
    oracle="""
SELECT lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY lang, source
""",
    doc="R1/R5/R6 graded end-to-end: documents → 'key value' lines "
    "(key = doc_id, value = 'lang source n_chars' — value KEEPS its "
    "spaces, exercising the reference's first-space split_once parse, "
    "src/utils.rs:79-92) → kv_text sink → kv_text source → parse → "
    "aggregate. The oracle aggregates the original parquet directly, "
    "so the hash only matches if the text round trip is lossless. "
    "Render preconditions (lang/source non-null, space-free) fail loud "
    "instead of silently shifting fields. 100 TB: map-only render, "
    "per-partition write, line-aware re-scan; one aggregation shuffle "
    "total.",
)
def q_kv_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    def write(out):
        docs = load_table(spark, sf_dir, "documents")
        rendered = docs.select(
            F.col("doc_id").alias("key"),
            _checked_value(
                F.concat_ws(" ", "lang", "source", F.col("n_chars").cast("string")),
                _render_guard("lang", "source"),
                F.col("doc_id").cast("string"),
            ).alias("value"),
        )
        write_kv_text(rendered, out)
        return out

    back = read_kv_text(spark, landed(spark, sf_dir, "kv_text_roundtrip", write))
    parts = F.split("value", " ")
    parsed = back.select(
        parts.getItem(0).alias("lang"),
        parts.getItem(1).alias("source"),
        parts.getItem(2).cast("bigint").alias("n_chars"),
    )
    return parsed.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@register(
    "wholetext_file_stats",
    oracle="""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY lang
""",
    doc="R4 whole-chunk-as-one-record mode graded end-to-end (reference "
    "src/worker.rs:119-120 reads each chunk whole; SURVEY §2.1 R4): "
    "documents render to one 'doc_id n_chars' line each, written as ONE "
    "text file per lang (repartition by the partition key → one task → "
    "one file per lang= dir), then read back with wholetext=True — one "
    "record per FILE keyed by input_file_name — split into lines and "
    "aggregated per lang. The oracle aggregates the parquet directly; "
    "the hash matches only if every file carries exactly its lang's "
    "docs and the whole-file read is lossless. Line order within a "
    "file is shuffle-arrival-dependent, so all aggregates are "
    "order-insensitive. 100 TB: wholetext means one record per file, "
    "so the WRITER bounds file size (cap docs per file); the parse is "
    "map-only and the only shuffle in the graded plan is the final "
    "aggregation's.",
)
def q_wholetext_file_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    def write(out):
        docs = load_table(spark, sf_dir, "documents")
        rendered = docs.select(
            "lang",
            _checked_value(
                F.concat_ws(" ", F.col("doc_id").cast("string"),
                            F.col("n_chars").cast("string")),
                _render_guard("lang"),
                F.col("doc_id").cast("string"),
            ).alias("value"),
        )
        (
            rendered.repartition(F.col("lang"))
            .write.partitionBy("lang")
            .text(out)
        )
        return out

    out = landed(spark, sf_dir, "wholetext_file_stats", write)
    back = read_text_corpus(spark, out, wholetext=True)
    lines = F.filter(F.split("value", "\n"), lambda x: x != "")
    per_file = back.select(
        F.regexp_extract("key", r"lang=([^/]+)", 1).alias("lang"),
        lines.alias("ls"),
    ).select(
        "lang",
        F.size("ls").cast("bigint").alias("n_docs_f"),
        F.expr(
            "aggregate(ls, 0L, (acc, x) -> acc + CAST(split_part(x, ' ', 1) AS BIGINT))"
        ).alias("sum_doc_id_f"),
        F.expr(
            "aggregate(ls, 0L, (acc, x) -> acc + CAST(split_part(x, ' ', 2) AS BIGINT))"
        ).alias("total_chars_f"),
    )
    return per_file.groupBy("lang").agg(
        F.sum("n_docs_f").alias("n_docs"),
        F.sum("sum_doc_id_f").alias("sum_doc_id"),
        F.sum("total_chars_f").alias("total_chars"),
    )


#: Order-independent content checksum both engines compute identically:
#: sum over rows of the first 8 md5 hex digits as an integer. Pins every
#: row's exact text through a format round trip without ordering.
_CHECKSUM_SQL = "CAST(SUM(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT)) AS BIGINT)"


def _text_checksum() -> Column:
    return (
        F.sum(F.conv(F.substring(F.md5(F.col("text")), 1, 8), 16, 10).cast("long"))
        .cast("bigint")
    )


@register(
    "csv_roundtrip",
    oracle=f"""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       {_CHECKSUM_SQL} AS text_checksum
FROM documents
GROUP BY lang
""",
    doc="CSV sink+source graded end-to-end: documents (including the "
    "free-text column, which CSV must quote) → per-partition CSV files "
    "with header → schema'd CSV scan → per-lang aggregate with an "
    "order-independent md5 content checksum. The oracle aggregates the "
    "original parquet, so the hash matches only if quoting/escaping and "
    "type round-tripping are lossless for every row. The read supplies "
    "an EXPLICIT schema — at 100 TB, schema inference is a full extra "
    "pass over the data and is never acceptable. Map-only render, "
    "per-partition write, splittable line-oriented re-scan; one "
    "aggregation shuffle in the graded plan.",
)
def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    def write(out):
        docs = load_table(spark, sf_dir, "documents")
        (
            docs.select("doc_id", "text", "lang", "n_chars")
            .write.option("header", True)
            .csv(out)
        )
        return out

    back = spark.read.schema(
        "doc_id BIGINT, text STRING, lang STRING, n_chars BIGINT"
    ).option("header", True).csv(landed(spark, sf_dir, "csv_roundtrip", write))
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        _text_checksum().alias("text_checksum"),
    )


@register(
    "jsonl_roundtrip",
    oracle=f"""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       {_CHECKSUM_SQL} AS text_checksum
FROM documents
GROUP BY source
""",
    doc="JSON-Lines sink+source graded end-to-end — the lingua franca of "
    "LLM training-data interchange: documents → one JSON object per "
    "line, per-partition files → schema'd json scan → per-source "
    "aggregate with the md5 content checksum. Lossless only if JSON "
    "string escaping round-trips every text. The read supplies an "
    "EXPLICIT schema (no inference pass); JSONL files split by line at "
    "maxPartitionBytes, so a 100 TB corpus scans with ordinary "
    "parallelism — but unlike Parquet there is no column pruning or "
    "predicate pushdown, which is why JSONL is an interchange format "
    "here, not the analytical store.",
)
def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    def write(out):
        docs = load_table(spark, sf_dir, "documents")
        docs.select("doc_id", "text", "source").write.json(out)
        return out

    out = landed(spark, sf_dir, "jsonl_roundtrip", write)
    back = spark.read.schema("doc_id BIGINT, text STRING, source STRING").json(out)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("id_checksum"),
        _text_checksum().alias("text_checksum"),
    )


@register(
    "gzip_jsonl_roundtrip",
    oracle=f"""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       {_CHECKSUM_SQL} AS text_checksum
FROM documents
GROUP BY lang
""",
    doc="COMPRESSED text interchange graded end-to-end (r9): documents → "
    "gzip-compressed JSON-Lines (Spark's built-in codec path — the "
    "format a 100 TB web-scrape corpus actually arrives in) → schema'd "
    "read back through transparent decompression → per-lang aggregate "
    "with the md5 content checksum; the oracle aggregates the ORIGINAL "
    "parquet and never sees a compressed byte, so hash parity proves "
    "compression round-tripped every document. Before reading, the "
    "query verifies the part files carry the gzip magic (1f 8b) — a "
    "silent fall-back to plain text would otherwise still hash green. "
    "THE scale fact this query encodes: gzip is NOT splittable — one "
    ".json.gz file = one read task regardless of maxPartitionBytes — "
    "so parallelism is fixed at WRITE time by bounding file count/size "
    "(here an explicit repartition(8) caps files at ~rows/8; at 100 TB "
    "target ~128-256 MiB compressed per file, or land in a splittable "
    "codec like zstd-seekable/bzip2 when producers allow). The read "
    "plan is otherwise identical to plain JSONL: line parse, no "
    "pruning/pushdown — interchange, not the analytical store.",
)
def q_gzip_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    def write(out):
        docs = load_table(spark, sf_dir, "documents")
        (
            docs.select("doc_id", "text", "lang")
            .repartition(8)  # gzip is unsplittable: file count IS the read parallelism
            .write.option("compression", "gzip")
            .json(out)
        )
        parts = [
            f for f in os.listdir(out)
            if f.startswith("part-") and not f.endswith(".crc")
        ]
        if not parts or not all(f.endswith(".json.gz") for f in parts):
            raise ValueError(f"expected gzip part files in {out}, got {parts[:3]}")
        with open(os.path.join(out, parts[0]), "rb") as fh:
            if fh.read(2) != b"\x1f\x8b":
                raise ValueError("part file lacks the gzip magic bytes")
        return out

    out = landed(spark, sf_dir, "gzip_jsonl_roundtrip", write)
    back = spark.read.schema("doc_id BIGINT, text STRING, lang STRING").json(out)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("id_checksum"),
        _text_checksum().alias("text_checksum"),
    )


@register(
    "bucketed_join_no_shuffle",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS n_items,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(3,2))
                  ) AS DOUBLE), 4) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
    doc="Bucketed-table co-located join graded end-to-end — the storage "
    "layout that eliminates the fact-to-fact shuffle at 100 TB: "
    "lineitem and orders are written ONCE per session as bucketed+"
    "sorted tables (8 buckets on the join key, external path in "
    "scratch), then joined bucket-to-bucket — the scan itself provides "
    "the hash partitioning AND sort order, so the graded plan's join "
    "has NO Exchange under it (locked by a plan test). The oracle runs "
    "the same join/aggregate on the original parquet; the hash matches "
    "only if the bucketed write+read preserved every row. 100 TB: "
    "pre-bucketing both fact tables on orderkey turns every future "
    "orderkey join into a map-side merge — the amortized answer to the "
    "biggest repeated shuffle in the schema; bucket count scales to "
    "cluster cores (8 here only for the test fixture).",
)
def q_bucketed_join_no_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    sf = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    app = spark.sparkContext.applicationId.replace("-", "_")
    li_tbl = f"bkt_lineitem_{sf.replace('.', '_')}_{app}"
    o_tbl = f"bkt_orders_{sf.replace('.', '_')}_{app}"

    def write(base):
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        )
        o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
        (
            li.write.mode("overwrite")
            .bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", os.path.join(base, "lineitem"))
            .saveAsTable(li_tbl)
        )
        (
            o.write.mode("overwrite")
            .bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", os.path.join(base, "orders"))
            .saveAsTable(o_tbl)
        )

    landed(spark, sf_dir, "bucketed_join", write)
    li_b = spark.table(li_tbl)
    o_b = spark.table(o_tbl)
    disc = (F.lit(1) - F.col("l_discount").cast("decimal(4,2)")).cast("decimal(3,2)")
    return (
        li_b.join(o_b, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(12,2)") * disc).cast("double"), 4
            ).alias("revenue"),
        )
    )


def _partitioned_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents written ONCE per session as lang-partitioned parquet;
    shared by the static (partitioned_write_prune) and dynamic
    (dynamic_partition_pruning) pruning queries."""
    def write(out):
        docs = load_table(spark, sf_dir, "documents")
        (
            docs.select("doc_id", "text", "source", "n_chars", "lang")
            .write.partitionBy("lang")
            .parquet(out)
        )
        return out

    return read_parquet(spark, landed(spark, sf_dir, "partitioned_write_prune", write))


@register(
    "partitioned_write_prune",
    oracle=f"""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       {_CHECKSUM_SQL} AS text_checksum
FROM documents
WHERE lang = 'en'
GROUP BY source
""",
    doc="Hive-partitioned layout + partition pruning graded end-to-end — "
    "THE dominant cost lever at 100 TB: documents are written ONCE per "
    "session as parquet partitioned by lang (`partitionBy('lang')` → "
    "lang=<v>/ directories), then the graded query filters lang='en' "
    "on the read-back. Because lang is a PARTITION column, the filter "
    "is resolved against directory metadata — non-matching partitions "
    "are never opened (the plan test locks `PartitionFilters` on the "
    "scan and that the partition column is absent from ReadSchema). "
    "The oracle applies the same predicate to the original parquet, so "
    "the hash also proves the partitioned write was lossless, including "
    "the partition-column round trip through directory names. 100 TB: "
    "a lang/source-partitioned corpus makes every per-slice job read "
    "only its slice — pruning is free, happens at planning time, and "
    "needs no index; partition columns must be low-cardinality (lang, "
    "source, date), never high-cardinality keys which would create "
    "millions of tiny files.",
)
def q_partitioned_write_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    back = _partitioned_docs(spark, sf_dir)
    return (
        back.filter(F.col("lang") == "en")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            _text_checksum().alias("text_checksum"),
        )
    )


@register(
    "dynamic_partition_pruning",
    oracle=f"""
WITH lang_dim AS (
  SELECT DISTINCT lang,
         CASE WHEN lang = 'zh' THEN 'cjk' ELSE 'latin' END AS script
  FROM documents
)
SELECT d.lang, d.source,
       COUNT(*) AS n_docs,
       CAST(SUM(d.doc_id) AS BIGINT) AS id_checksum,
       {_CHECKSUM_SQL.replace("md5(text)", "md5(d.text)")} AS text_checksum
FROM documents d JOIN lang_dim USING (lang)
WHERE lang_dim.script = 'cjk'
GROUP BY d.lang, d.source
""",
    doc="DYNAMIC partition pruning graded end-to-end — the runtime half "
    "of the pruning story: the fact side is the lang-partitioned "
    "parquet (shared with partitioned_write_prune), the build side a "
    "script-metadata dim written to its own parquet and filtered on "
    "script='cjk' — a predicate on a NON-partition attribute, so the "
    "fact partitions to keep are unknowable at plan time. Spark "
    "broadcasts the filtered dim, derives the matching lang set at "
    "RUNTIME, and injects `dynamicpruningexpression(lang IN "
    "dynamicpruning#...)` into the fact scan's PartitionFilters "
    "(plan-locked) — only matching lang= directories are read. The "
    "oracle computes the same join on the original parquet with the "
    "dim as a CTE. 100 TB: this is the date-dim pattern — "
    "`fact JOIN dates WHERE fiscal_quarter='Q3'` prunes a year-"
    "partitioned fact to 13 weeks without the user naming dates; "
    "works wherever the partition key is joined to any filtered dim.",
)
def q_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    def write(out):
        docs = load_table(spark, sf_dir, "documents")
        (
            docs.select("lang")
            .distinct()
            .withColumn(
                "script",
                F.when(F.col("lang") == "zh", "cjk").otherwise("latin"),
            )
            .write.parquet(out)
        )
        return out

    back = _partitioned_docs(spark, sf_dir)
    dim = read_parquet(spark, landed(spark, sf_dir, "lang_dim", write)).filter(
        F.col("script") == "cjk"
    )
    return (
        back.join(dim, "lang")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
            _text_checksum().alias("text_checksum"),
        )
    )


@register(
    "compaction_rebalance",
    oracle=f"""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       {_CHECKSUM_SQL} AS text_checksum
FROM documents
GROUP BY lang
""",
    doc="Small-files compaction graded end-to-end — the third storage-"
    "layout lever after pruning and bucketing: documents are first "
    "written deliberately FRAGMENTED (64 shuffle files — the shape a "
    "streaming ingest or over-parallel job leaves behind), then "
    "compacted by an AQE REBALANCE write (`/*+ REBALANCE */` lets AQE "
    "coalesce post-shuffle partitions to target-size outputs instead "
    "of a fixed repartition count), and the graded aggregate runs on "
    "the compacted copy. The oracle aggregates the original parquet, "
    "so the hash proves compaction was lossless; the unit test pins "
    "that the file count actually collapsed. 100 TB: compaction is "
    "the maintenance job that keeps scan task counts proportional to "
    "bytes, not to ingest micro-batch history — REBALANCE (not "
    "repartition(n)) is the right primitive because AQE sizes the "
    "output splits from runtime statistics.",
)
def q_compaction_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    def fragment(out):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang", "n_chars"
        )
        docs.repartition(64).write.parquet(out)
        return out

    def compact(out):
        frag = landed(spark, sf_dir, "compaction_frag", fragment)
        (
            read_parquet(spark, frag)
            .hint("rebalance")
            .write.parquet(out)
        )
        return out

    back = read_parquet(spark, landed(spark, sf_dir, "compaction_out", compact))
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("id_checksum"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        _text_checksum().alias("text_checksum"),
    )


def _morton(x: Column, y: Column, bits: int = 10) -> Column:
    """Morton (Z-order) interleave of two ``bits``-bit keys as one
    BIGINT — pure bit expressions, whole-stage codegen. Inputs MUST be
    normalized to [0, 2^bits) first: with raw keys of different
    magnitudes the wider key's high bits dominate and the curve
    degenerates to a single-column sort. The layout key never crosses
    the engine boundary (the oracle only checks the read-back is
    lossless), so no cross-engine bit-op parity is needed."""
    acc = F.lit(0).cast("bigint")
    for i in range(bits):
        acc = acc + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        acc = acc + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return acc


def zorder_write(spark: SparkSession, sf_dir: str) -> str:
    """lineitem written ONCE per session Z-ORDERED on (l_orderkey,
    l_partkey) — two HIGH-cardinality keys at every scale factor: each
    key is min-max normalized to a shared 10-bit range (the same idea
    as Delta OPTIMIZE ZORDER's per-column range ids — without it the
    wider key dominates the interleave), then range-repartitioned +
    sorted on the morton key, so every output file covers a small
    RECTANGLE of the key space and parquet min/max stats prune on BOTH
    columns (a single-column sort clusters only one).
    tests/test_zorder.py pins the clustering quality."""
    def norm(c, lo, hi):
        return F.expr(
            f"CAST((({c} - {lo}) * {(1 << 10) - 1}) DIV "
            f"greatest({hi} - {lo}, 1) AS BIGINT)"
        )

    def write(out):
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_returnflag"
        )
        bounds = li.agg(
            F.min("l_orderkey").alias("__xmin"),
            F.max("l_orderkey").alias("__xmax"),
            F.min("l_partkey").alias("__ymin"),
            F.max("l_partkey").alias("__ymax"),
        )
        mz = _morton(
            norm("l_orderkey", "__xmin", "__xmax"),
            norm("l_partkey", "__ymin", "__ymax"),
        )
        (
            li.crossJoin(F.broadcast(bounds))
            .withColumn("__z", mz)
            .repartitionByRange(8, F.col("__z"))
            .sortWithinPartitions("__z")
            .drop("__z", "__xmin", "__xmax", "__ymin", "__ymax")
            .write.parquet(out)
        )
        return out

    return landed(spark, sf_dir, "zorder_lineitem", write)


@register(
    "zorder_write_prune",
    oracle="""
SELECT l_returnflag,
       COUNT(*) AS n_items,
       CAST(SUM(l_orderkey) AS BIGINT) AS key_checksum,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE), 4) AS sum_price
FROM lineitem
WHERE l_orderkey BETWEEN 100 AND 500 AND l_partkey BETWEEN 20 AND 80
GROUP BY l_returnflag
""",
    doc="Z-order (Morton) clustering graded end-to-end — the multi-"
    "column layout lever hive partitioning can't give (partition "
    "columns must be low-cardinality; Z-order clusters HIGH-cardinality "
    "key pairs): lineitem is written once range-partitioned + sorted on "
    "the bit-interleaved (l_orderkey, l_partkey) Morton key, then the "
    "graded query filters a rectangle in that key space on the "
    "read-back. Because each file covers a small key-space rectangle, "
    "parquet min/max stats skip most row groups on EITHER predicate — "
    "a single-column sort only prunes its own column. The oracle runs "
    "the same filter on the original parquet (losslessness + "
    "correctness); both predicates reach the scan (PushedFilters), and "
    "tests/test_zorder.py pins the clustering-quality invariant (total "
    "per-file key-rectangle area << single-sort layout). 100 TB: this "
    "is Delta/Iceberg OPTIMIZE ZORDER — the recipe for the second-"
    "most-selective dimension of a fact table.",
)
def q_zorder_write_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = zorder_write(spark, sf_dir)
    back = read_parquet(spark, out)
    return (
        back.where(
            F.col("l_orderkey").between(100, 500) & F.col("l_partkey").between(20, 80)
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("l_orderkey").cast("bigint").alias("key_checksum"),
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).cast("double"), 4
            ).alias("sum_price"),
        )
    )


#: primary key column per catalog table (the membership-checksum basis)
_TABLE_KEYS = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": None,  # composite: orderkey * 8 + linenumber (≤7 lines/order)
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def _anti_entropy_oracle() -> str:
    parts = []
    for t, k in _TABLE_KEYS.items():
        key = k if k is not None else "l_orderkey * 8 + l_linenumber"
        parts.append(
            f"SELECT '{t}' AS table_name, COUNT(*) AS n_rows, "
            f"CAST(SUM(CAST(('0x' || substr(md5(CAST({key} AS VARCHAR)), 1, 8)) AS BIGINT)) AS BIGINT) AS key_checksum "
            f"FROM {t}"
        )
    return "\nUNION ALL\n".join(parts)


@register(
    "table_antientropy_checksums",
    oracle=_anti_entropy_oracle(),
    doc="Anti-entropy / replication verification: one order-independent "
    "membership checksum per catalog table (row count + SUM of a 32-bit "
    "md5 slice of the primary key; lineitem uses the composite "
    "orderkey*8+linenumber). Two replicas — or an engine migration, "
    "which is exactly what the DuckDB oracle is here — compare these 10 "
    "rows instead of 10 tables; any dropped/duplicated/corrupted-key "
    "row flips the sum. Each table contributes one scan of ONE column "
    "+ a scalar agg (partial sums per task, 1-row exchange); tables "
    "verify independently, so at 100 TB the checksums run as one job "
    "per table against live replicas. The md5 slice is the repo's "
    "portable-hash rule (never engine-private hashes in results).",
)
def q_table_antientropy_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for t, k in _TABLE_KEYS.items():
        df = load_table(spark, sf_dir, t)
        key = (
            F.col(k)
            if k is not None
            else (F.col("l_orderkey") * 8 + F.col("l_linenumber"))
        )
        row = df.select(
            F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10)
            .cast("long")
            .alias("h")
        ).agg(
            F.lit(t).alias("table_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("h").cast("bigint").alias("key_checksum"),
        )
        out = row if out is None else out.unionByName(row)
    return out


@register(
    "orc_roundtrip",
    oracle=f"""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       {_CHECKSUM_SQL} AS text_checksum
FROM documents
GROUP BY lang
""",
    doc="ORC write→read round trip (r5): the third columnar/row format "
    "the engine round-trips (parquet everywhere, CSV, JSONL, KV text, "
    "whole-file). Same contract as csv_roundtrip: the oracle aggregates "
    "the ORIGINAL table, so the comparison passes only if every row's "
    "exact text survives the format round trip (order-independent md5 "
    "checksum per lang) — a format that mangles unicode, truncates, or "
    "drops rows fails loud. ORC is Spark-native (predicate pushdown, "
    "column pruning, zlib) and the read side prunes to the 3 needed "
    "columns; explicit schema on re-read, no inference pass.",
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    def write(out):
        docs = load_table(spark, sf_dir, "documents")
        docs.select("doc_id", "text", "lang", "n_chars").write.orc(out)
        return out

    back = spark.read.schema(
        "doc_id BIGINT, text STRING, lang STRING, n_chars BIGINT"
    ).orc(landed(spark, sf_dir, "orc_roundtrip", write))
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        _text_checksum().alias("text_checksum"),
    )


@register(
    "schema_evolution_roundtrip",
    oracle="""
SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'PRE_MIGRATION'
            ELSE o_orderpriority END AS priority_bucket,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT))
            AS BIGINT) AS total_cents
FROM orders
GROUP BY 1
""",
    doc="Schema evolution graded end-to-end (r7): a 100 TB table's "
    "columns change over its lifetime — generation 1 of orders is "
    "written WITHOUT o_orderpriority (even keys), generation 2 WITH "
    "it (odd keys), and one mergeSchema parquet read unions the "
    "generations (gen-1 rows surface NULL for the new column, "
    "reported as PRE_MIGRATION). The oracle reconstructs the same "
    "split from the raw table, so the hash proves the merged read "
    "loses no rows, values, or typing across the schema boundary. "
    "At scale: mergeSchema's footer reconciliation is a planning-time "
    "cost (bounded by file count, worth pinning a merged schema in a "
    "catalog instead); the data path stays columnar and the new "
    "column is NULL-filled at read, never rewritten — the reason "
    "additive evolution is free and destructive evolution is not.",
)
def q_schema_evolution_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    def write(out):
        orders = load_table(spark, sf_dir, "orders")
        gen1 = orders.where(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice"
        )
        gen2 = orders.where(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        )
        gen1.write.parquet(f"{out}/gen=1")
        gen2.write.parquet(f"{out}/gen=2")
        return out

    out = landed(spark, sf_dir, "schema_evolution", write)
    merged = spark.read.option("mergeSchema", True).parquet(
        f"{out}/gen=1", f"{out}/gen=2"
    )
    cents = (F.col("o_totalprice").cast("decimal(14,2)") * 100).cast("bigint")
    return merged.groupBy(
        F.coalesce("o_orderpriority", F.lit("PRE_MIGRATION")).alias(
            "priority_bucket"
        )
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(cents).cast("bigint").alias("total_cents"),
    )
