"""Measured scaling datapoint (VERDICT r7 #2): build a ~10x corpus and
time the most expensive headline queries (the ``names`` list below —
six dedup/graph/text rows originally, extended in r8 with the exact-L
excision variant and the three heaviest events queries) at 1x (sf0.1)
and 10x, reporting t(10x)/t(1x) per query. Converts the repo's
plan-shape scaling claims into numbers.

Corpus construction — the point is that the 10x corpus scales VOLUME
linearly without changing the per-copy workload DENSITY, so a linear
plan should land near ratio 10 and anything well above it is engine
superlinearity (per-partition sorts, window frames, pair blowups):

- 10 copies of each table with interleaved re-keyed ids
  (id*10 + copy), so id-ordering-derived structures (semdedup's
  first-k centroids) sample every copy;
- documents: copy 0 keeps the original text (the trigram needle's
  corpus); copies 1-9 get every whitespace token suffixed with
  "_<copy>" — a consistent per-copy renaming, so WITHIN-copy
  similarity structure (shingle/token/n-gram overlap) is preserved
  exactly while CROSS-copy similarity collapses to ~0. A naive
  self-union would instead hand every dedup operator 10 exact copies
  of everything (dup-rate 10x, per-group pair count 45x) — a density
  change masquerading as a scale change;
- embeddings: per-copy deterministic +-1 sign pattern multiplied
  elementwise (xxhash64(copy, dim) parity). Sign flips cancel inside
  within-copy dot products (s.a · s.b = a·b, norms unchanged) and
  decorrelate cross-copy cosines — same trick, vector-space edition;
- lineitem: orderkey and partkey both re-keyed per copy, so the
  co-purchase graph becomes 10 disjoint copies of the 1x graph
  (triangle counting scales linearly iff the engine does).

dedup_semdedup is probed through the operator with k scaled 8 -> 80,
matching its documented 100 TB contract ("k grows with the corpus so
per-cluster fan-out stays bounded"); everything else runs the
registered query unchanged against the 10x directory.

Writes NOTHING outside /tmp. Run:
    python scripts/scale_probe.py            # build (if absent) + measure
    python scripts/scale_probe.py --rebuild
    python scripts/scale_probe.py --t30      # 30x tier for the two
                                             # steepest 10x curves only
                                             # (VERDICT r8 #6)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
#: measurement tiers: (scale factor, corpus dir, semdedup k) — k scales
#: with the corpus per the operator's documented contract
TIERS = (
    (3, "/tmp/spark_graft_scale3", 24),
    (10, "/tmp/spark_graft_scale10", 80),
)


def build(
    spark,
    out_dir: str,
    copies: int,
    tables: tuple[str, ...] = ("documents", "embeddings", "lineitem", "events"),
) -> None:
    """``tables`` lets a tier build only what its queries read — the
    30x tier measures two queries (documents + events) and skipping
    the unused 30x embeddings/lineitem keeps the build bounded."""
    if "documents" in tables:
        docs = spark.read.parquet(f"{BASE}/documents.parquet")
        parts = []
        for i in range(copies):
            txt = (
                F.col("text")
                if i == 0
                else F.regexp_replace("text", r"(\S+)", f"$1_{i}")
            )
            parts.append(
                docs.select(
                    (F.col("doc_id") * copies + i).alias("doc_id"),
                    txt.alias("text"),
                    "lang",
                    "source",
                    F.length(txt).cast("bigint").alias("n_chars"),
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.repartition(32).write.mode("overwrite").parquet(
            f"{out_dir}/documents.parquet"
        )

    if "embeddings" in tables:
        emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
        parts = []
        for i in range(copies):
            vec = (
                F.col("embedding")
                if i == 0
                else F.expr(
                    "transform(embedding, (x, j) -> "
                    f"x * CAST(1 - 2 * pmod(xxhash64({i} * 131 + j), 2) AS FLOAT))"
                )
            )
            parts.append(
                emb.select(
                    (F.col("vec_id") * copies + i).alias("vec_id"),
                    vec.alias("embedding"),
                    "label",
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.repartition(8).write.mode("overwrite").parquet(
            f"{out_dir}/embeddings.parquet"
        )

    if "lineitem" in tables:
        li = spark.read.parquet(f"{BASE}/lineitem.parquet")
        parts = []
        for i in range(copies):
            parts.append(
                li.withColumn(
                    "l_orderkey", F.col("l_orderkey") * copies + i
                ).withColumn("l_partkey", F.col("l_partkey") * copies + i)
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.repartition(32).write.mode("overwrite").parquet(
            f"{out_dir}/lineitem.parquet"
        )

    # events — the table that IS 100 TB in production: user_id and
    # event_id re-keyed per copy (10 disjoint user populations, same
    # time span, so per-user event counts / session shapes / window
    # partition sizes match the 1x workload exactly; a re-used user_id
    # would instead 10x every user's history — a density change)
    if "events" in tables:
        from ds_mapreduce_spark.sources.catalog import load_table as _lt

        ev = _lt(spark, BASE, "events")
        parts = []
        for i in range(copies):
            parts.append(
                ev.withColumn("user_id", F.col("user_id") * copies + i)
                .withColumn("event_id", F.col("event_id") * copies + i)
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.repartition(32).write.mode("overwrite").parquet(
            f"{out_dir}/events.parquet"
        )


def main() -> None:
    from ds_mapreduce_spark.operators.dedup import semdedup_verdicts
    from ds_mapreduce_spark.plans.registry import load_all
    from ds_mapreduce_spark.session import get_spark
    from ds_mapreduce_spark.sources.catalog import load_table

    spark = get_spark("scale-probe")
    registry = load_all()

    if "--t30" in sys.argv:
        # VERDICT r8 #6: a third datapoint for the two steepest 10x
        # curves (dedup_prefix_filter 3.63, events_hourly_resample
        # 2.50) — turns "concave so far" into a three-point trend.
        # Only the two tables those queries read are built at 30x.
        out_dir = "/tmp/spark_graft_scale30"
        # presence check covers EVERY table the tier builds — a build
        # interrupted between the documents and events writes must not
        # read as complete (code-review r9)
        if "--rebuild" in sys.argv or not all(
            os.path.isdir(f"{out_dir}/{t}.parquet")
            for t in ("documents", "events")
        ):
            t0 = time.monotonic()
            build(spark, out_dir, 30, tables=("documents", "events"))
            print(f"built 30x corpus in {time.monotonic() - t0:.1f}s")
        results = {}
        # default: the two steepest 10x curves (VERDICT r8 #6);
        # --only swaps in any documents/events-only query — used in
        # r11 for the heaviest codec row (VERDICT r9 #8: one
        # three-point codec curve)
        t30_names = ("dedup_prefix_filter", "events_hourly_resample")
        if "--only" in sys.argv:
            t30_names = tuple(sys.argv[sys.argv.index("--only") + 1].split(","))
            unknown = [n for n in t30_names if n not in registry]
            if unknown:
                raise SystemExit(f"--only names not registered: {unknown}")
        for name in t30_names:
            try:
                registry[name].fn(spark, "/root/testdata/sf0.001").count()
            except Exception:
                pass
            t0 = time.monotonic()
            n1 = registry[name].fn(spark, BASE).count()
            t1 = time.monotonic() - t0
            t0 = time.monotonic()
            n30 = registry[name].fn(spark, out_dir).count()
            t30 = time.monotonic() - t0
            results[name] = {
                "t_1x_sec": round(t1, 3),
                "t_30x_sec": round(t30, 3),
                "ratio_30x": round(t30 / t1, 2),
                "rows_1x": n1,
                "rows_30x": n30,
            }
            print(
                f"{name:28s} 1x {t1:6.2f}s   30x {t30:6.2f}s "
                f"(r {t30 / t1:5.2f})"
            )
        print(json.dumps(results))
        return

    for copies, out_dir, _k in TIERS:
        if "--rebuild" in sys.argv or not os.path.isdir(
            f"{out_dir}/documents.parquet"
        ):
            t0 = time.monotonic()
            build(spark, out_dir, copies)
            print(
                f"built {copies}x corpus in {time.monotonic() - t0:.1f}s"
                f" -> {out_dir}"
            )

    names = [
        "dedup_semdedup",
        "graph_triangle_count",
        "dedup_lsh_band_sweep",
        "dedup_span_excision",
        "dedup_prefix_filter",
        "trigram_substring_search",
        "dedup_span_excision_exact20",  # r8: md5-keyed 20-gram variant
        # the events fact table (the one that IS 100 TB in production):
        # resample (per-user hour spine + forward fill), robust census
        # (exact median/MAD), session paths (window + transition agg)
        "events_hourly_resample",
        "events_robust_outliers",
        "session_path_analysis",
        # r9 codec tier (map-only over documents; the tier scales the
        # documents table, so these measure per-payload Python cost —
        # expected ~linear, the point is to MEASURE that, per the
        # fresh-session discipline in CLAUDE.md)
        "multimodal_jpeg_roundtrip",
        "multimodal_mjpeg_avi_roundtrip",
        # r9: the stateful audio codec — per-sample Python state
        # machine, so its curve checks that adaptivity stays linear
        "multimodal_adpcm_roundtrip",
        # r9: the inter-frame video codec — per-frame raster diffs +
        # do-not-dispose composition chain WITHIN each payload; the
        # curve checks that temporal state stays linear in payloads
        "multimodal_animgif_roundtrip",
        # r9: the motion-compensated video codec — per-payload
        # full-search block matching + residual DCT; the heaviest
        # per-row Python work in the codec family, expected ~linear
        "multimodal_mcv_roundtrip",
        # r9: the perceptual-transform audio codec — batched numpy
        # MDCT + per-granule scalefactor search + bit packing
        "multimodal_mdct_roundtrip",
        # r11: the two container-syntax rows — each wraps its r9
        # signal path (MDCT granules / MCV frames) in the real byte
        # syntax (MPEG-1 Layer III frames / H.264 Annex-B NALs), so
        # the curve checks that the per-payload wrap/escape/parse
        # chain stays linear on top of the already-measured codecs
        "multimodal_mp3_framing_roundtrip",
        "multimodal_h264_annexb_roundtrip",
        # r12: the quantile-sketch row — its output (15 rows) and
        # sketch state (<= ~3.7k buckets/type) are scale-INVARIANT, so
        # the curve isolates the one stream-sized aggregation; the 10x
        # events copies keep the same 5 types and value distribution
        "quantile_sketch_estimates",
        # r12: the day-store rollup — store rows grow with DAYS not
        # volume, so the curve isolates the two sketch-build aggs
        # (store + the one-pass evaluation branch)
        "quantile_sketch_rollup",
        # r13: the landed store's pruned range read — the store write
        # memo is keyed by sf-dir basename, so each tier's FIRST timed
        # run pays that tier's store write + the pruned read (the
        # sf0.001 warm pass only writes the sf0.001 store): the curve
        # therefore checks that the WRITE half stays one bounded agg
        # over the tier's events while the read stays store-sized
        "quantile_sketch_day_range",
        # r14: the two new landed-store range reads — same write+read
        # tier accounting as the quantile row above; the HLL curve
        # adds the ObjectHashAggregate sketch-union path and the CMS
        # curve the x4 explode probe join, both over day-pruned
        # kilobyte stores plus one filtered events scan (evaluation)
        "hll_sketch_day_range",
        "cms_sketch_day_range",
        # r15: the day-store compaction row — each tier's first timed
        # run pays the 3-batch fragmented ingest (three bounded aggs
        # over the tier's events) + the compaction rewrite (store-sized,
        # grows with days x types x buckets, never volume) + the graded
        # read of BOTH stores; the curve checks the ingest aggs stay
        # linear while compaction + read stay store-sized
        "sketch_store_compaction",
        # r16: the retention row — each tier's first timed run pays
        # the compaction builder chain (shared memo with the row
        # above; free when that row ran first in the same session)
        # plus the copy+delete expiry (pure filesystem, store-sized)
        # and the graded read of the surviving half-store; the curve
        # checks expiry+read stay store-sized while the only
        # volume-linear work is the shared ingest aggs
        "sketch_store_retention",
    ]
    # --only a,b restricts the run to a subset (comma-separated) so a
    # fresh-session measurement of newly staged rows doesn't re-time
    # the whole list
    if "--only" in sys.argv:
        wanted = set(sys.argv[sys.argv.index("--only") + 1].split(","))
        unknown = wanted - set(names)
        if unknown:
            raise SystemExit(f"--only names not in probe list: {sorted(unknown)}")
        names = [n for n in names if n in wanted]

    from perfbench.probes import ProcessTree  # repo root is on sys.path

    tree = ProcessTree()
    tree.start()

    def run(name: str, sf_dir: str, k_semdedup: int):
        """(wall sec, rows, CPU sec of this process, the JVM and its
        Python workers, without the sampler's own CPU)"""
        before, sampler = tree.reading(), tree.sampler_cpu()
        t0 = time.monotonic()
        if name == "dedup_semdedup":
            df = semdedup_verdicts(
                load_table(spark, sf_dir, "embeddings"),
                k=k_semdedup,
                threshold=0.45,
            )
        else:
            df = registry[name].fn(spark, sf_dir)
        n = df.count()
        dt = time.monotonic() - t0
        cpu = tree.cpu_since(before) - (tree.sampler_cpu() - sampler)
        return dt, n, cpu

    results = {}
    for name in names:
        # warm codegen/readers on the tiny SF first (bench.py convention)
        try:
            run(name, "/root/testdata/sf0.001", 8)
        except Exception:
            pass
        t1, n1, c1 = run(name, BASE, 8)
        row = {"t_1x_sec": round(t1, 3), "rows_1x": n1, "cpu_1x_sec": round(c1, 3)}
        line = f"{name:28s} 1x {t1:6.2f}s"
        for copies, out_dir, k in TIERS:
            t, n, c = run(name, out_dir, k)
            row[f"t_{copies}x_sec"] = round(t, 3)
            row[f"ratio_{copies}x"] = round(t / t1, 2)
            row[f"rows_{copies}x"] = n
            # CPU barely moves with host steal: a wall ratio that its
            # CPU ratio does not follow is environment, not engine
            # superlinearity
            row[f"cpu_{copies}x_sec"] = round(c, 3)
            line += f"   {copies}x {t:6.2f}s (r {t / t1:5.2f})"
        results[name] = row
        print(line)
    tree.stop()
    print(json.dumps(results))


if __name__ == "__main__":
    main()
