"""Benchmark harness: the HEADLINE queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

    SPARK_GRAFT_CPUS=4 python bench.py

Every headline query first runs once at sf0.001, so the timed runs
measure the plan, not first-touch classloading and codegen. Each query
then runs $SPARK_GRAFT_BENCH_REPEATS times (default 3) and reports the
MEDIAN: a single sample tracks page-cache and VM drift instead of
plans. Execution is forced with a noop-format write (full computation,
no driver-side collect). Dead checkpoint blocks are dropped between
runs, outside the timed window.

Each query's repeats run under a job group named after the query.
Around them, outside the timed window, the harness reads the engine's
own accounting through ``perfbench.probes``, per repeat: the CPU
seconds of the process tree (this process, the JVM and its Python
workers, without the sampler's own CPU and the JIT compiler threads),
the Python workers' share of it, and the status-store totals of the
job group (jobs, stages, tasks, executor run and CPU time, GC, scan,
shuffle, spill and Arrow bytes). Wall time on a shared VM moves with
host CPU steal; CPU time barely does. Compare CPU, not wall, and only
at the same core count.

Prints three JSON lines:
  full     {"metric": "headline_total", "value": <sec>, "unit": "sec",
            "queries": {name: median sec}, "rows": {name: {"cpu_s",
            "python_cpu_s", status-store totals}}, "repeats", "sf",
            "errors" (if any)}
  perq     {"line": "perq", "q": [medians], "c": [CPU sec], "top":
            {slowest rows by name}}, both arrays in HEADLINE order
  summary  {"metric": "headline_total", "value", "cpu_total", ...,
            "line": "summary"}
The full line is longer than the driver's 2000-char tail capture; the
perq and summary lines together always fit in it, and the summary is
always the last line.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ds_mapreduce_spark.plans.registry import load_all
from ds_mapreduce_spark.session import get_spark

#: queries timed per round: one per operator family, weighted toward
#: the shapes that dominate a 100 TB pipeline (scan+agg, join, dedup,
#: similarity, windows)
HEADLINE = [
    "wordcount",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "window_rank_per_group",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "knn_bruteforce",
    "knn_ivf",
    "events_sliding_window",
    "events_rolling_1h_stats",
    "events_sessionization",
    "asof_join_click_purchase",
    "q10_returned_item_customers",
    "pipeline_corpus_prep",
    "text_stats",
    "tfidf_top_terms",
    "decontamination",
    # round 3: training-prep family representatives — the two heaviest
    # new shapes (per-shard window packing; two-pass corpus-frequency
    # scoring with a token-partitioned window)
    "sequence_packing",
    "unigram_commonness",
    # round 4: the distributed-total-order primitive (prefix-sum shard
    # planning), the native session-window operator, and the exact
    # n-gram collision gate
    "corpus_shard_plan",
    "events_native_session_window",
    "exact_ngram_decontamination",
    "pipeline_llm_training_prep",
    # round 5: the data-quality contract gate (fact-fact shuffle join
    # shared by two checks), the bucketized interval-overlap join, the
    # oriented triangle counter, and the 3-config LSH tuning sweep
    "dq_validation_suite",
    "interval_overlap_join",
    "graph_triangle_count",
    "dedup_lsh_band_sweep",
    # round 6: the reordered trigram index probe, the exact prefix-
    # filter similarity join, the BM25 inverted-index probe, and the
    # per-subspace PQ codebook trainer
    "trigram_substring_search",
    "dedup_prefix_filter",
    "bm25_search",
    "pq_trained_codebook_encode",
    # late round 6: duplicate-span excision (count-then-filter + per-doc
    # interval merge + selective reconstruction — the heaviest new text
    # shape) and the linear-interp resample twin
    "dedup_span_excision",
    "events_gapfill_interpolate",
    # round 7: the length-floored ExactSubstr variant (same two-pass
    # gram pipeline + one span filter — its delta over the unfloored
    # row isolates the floor's cost) and the d-dimensional grid
    # skyline (grid prune + per-cell pandas BNL + bounded verify)
    "dedup_span_excision_minlen",
    "skyline_3d_grid",
    # late round 7: the composed ingest admission tier (scrub +
    # quality gate + dedup + distributed shard cumsum in one plan),
    # the bounded Count-Min sketch build, and rank fusion over the
    # two retrieval stacks
    "ingest_manifest_pipeline",
    "cms_heavy_hitter_estimates",
    "hybrid_rrf_fusion",
    # second late-r7 batch: cluster-bounded semantic dedup (argmin +
    # within-cluster pairs + CC) and the two-pass DSIR selection
    "dedup_semdedup",
    "dsir_importance_select",
    # third late-r7 batch: the Bloom prescreen (its delta vs
    # exact_ngram_decontamination above is the bitmap's win), iterative
    # BPE training, and the Gramian power iteration
    "bloom_ngram_decontamination",
    "bpe_train_merges",
    "embedding_pca_power",
    # round 8: the exact-L ExactSubstr variant (its delta vs the two
    # rows above isolates the 20-gram + md5-key cost) and SemDeDup
    # with its paper-true Lloyd training prefix
    "dedup_span_excision_exact20",
    "dedup_semdedup_trained",
    # the tokenizer APPLY side (train + vocab-lookup join + doc agg);
    # its delta vs bpe_train_merges isolates the encode join's cost
    "bpe_encode_census",
    # real codec-free media decode (wave-module WAV roundtrip through
    # two Arrow passes) — times the Python-seam byte throughput
    "multimodal_wav_roundtrip",
    # round 9: the winnowing prescreen evaluation — its delta vs the
    # three excision rows above isolates the screen census's cost
    # (winnowing-density fp shuffle vs every-position md5 grams)
    "dedup_span_winnow_screen",
    # round 9: the real compressed codec (PNG encode+decode, stdlib
    # zlib) — its delta vs multimodal_wav_roundtrip isolates
    # DEFLATE + per-row filter prediction vs raw-PCM packing
    "multimodal_png_roundtrip",
    # round 9: the real LOSSY codec (baseline JPEG, fixed-point DCT +
    # Huffman) — its delta vs multimodal_png_roundtrip isolates
    # transform coding + entropy coding vs DEFLATE filtering
    "multimodal_jpeg_roundtrip",
    # round 9: the real dictionary-coding codec (GIF, hand-written
    # LZW) — completes the DEFLATE/DCT+Huffman/LZW compression set
    "multimodal_gif_roundtrip",
    # round 9: the real lossy audio codec (G.711 mu-law) — its delta
    # vs multimodal_wav_roundtrip is exactly the companding cost
    "multimodal_ulaw_roundtrip",
    # round 9: the stateful-adaptive audio codec (IMA ADPCM) — the
    # closed-loop predictor costs a per-sample Python state machine,
    # so its delta vs the mu-law row prices adaptivity itself
    "multimodal_adpcm_roundtrip",
    # round 9: the lossless predictive audio codec (FLAC subset) —
    # bit-level Rice coding both ways; its delta vs the raw-PCM WAV
    # row prices prediction + entropy coding
    "multimodal_flac_roundtrip",
    # round 9: temporal video compression (animated GIF delta
    # frames) — its delta vs the static GIF row prices inter-frame
    # coding: per-frame raster diffs + composition
    "multimodal_animgif_roundtrip",
    # round 9: perceptual transform audio (MDCT + block companding +
    # exp-Golomb, the MP3/AAC class) — its delta vs the raw-PCM WAV
    # row prices the lapped transform + scalefactor + entropy chain
    "multimodal_mdct_roundtrip",
    # round 9: motion-compensated transform video (full-search block
    # matching + residual DCT + skip flags, the H.261->H.264 class) —
    # its delta vs the animgif row prices motion ESTIMATION over
    # copy-only delta coding
    "multimodal_mcv_roundtrip",
    # round 9: color JPEG (4:4:4 YCbCr, both Annex K tables) — its
    # delta vs the grayscale row isolates 3x planes + color transforms
    "multimodal_jpeg_color_roundtrip",
    # round 9: the real video container (MJPEG AVI, 4 frames/doc,
    # stride-2 sampling) — the heaviest codec row: ~2 JPEG decodes +
    # 4 encodes per doc; its ratio to multimodal_jpeg_roundtrip
    # should track the frame count
    "multimodal_mjpeg_avi_roundtrip",
    # round 11: the container halves that retired the last declared
    # codec seam — MPEG-audio frame syntax over the MDCT payload and
    # H.264 Annex-B NAL syntax over the MCV payload; each row's delta
    # vs its payload-only twin prices the container parse itself
    "multimodal_mp3_framing_roundtrip",
    "multimodal_h264_annexb_roundtrip",
    # round 11: the high-entropy winnowing-screen selectivity eval —
    # the screen's confusion census on a corpus where fingerprint
    # collisions require genuinely shared text (VERDICT r9 #4)
    "dedup_span_winnow_screen_entropic",
    # round 12: the rank member of the sketch family (deterministic
    # log-bucket quantile sketch) — its delta vs the CMS row prices
    # the two bounded window passes over bucket/count state vs the
    # probe join (both rows' stream-sized work is one partial-agg
    # groupBy over events)
    "quantile_sketch_estimates",
    # round 12: the day-store re-aggregation half — its delta vs the
    # estimates row prices the (type, day, bucket) store build +
    # checkpoint + the second (one-pass evaluation) sketch branch
    "quantile_sketch_rollup",
    # round 13: the landed store's production RANGE read — the store
    # write is memoized per session (repeat 1 pays it; the median-of-3
    # prices the steady-state read), so this row times what a
    # dashboard pays: a statically-pruned scan of days-in-range
    # kilobyte counters, never the fact table. Its gap under the
    # rollup row is the whole point: reads that skip the corpus.
    "quantile_sketch_day_range",
    # round 14: the HLL member of the day-store read family — the
    # pruned sketch-union read (register-wise MAX over days-in-range
    # kilobyte sketches) plus the graded evaluation's single filtered
    # events scan; its delta vs the quantile day-range row prices the
    # ObjectHashAggregate sketch-union path vs pure counter addition
    "hll_sketch_day_range",
    # round 14: the frequency member completing the day-store triad —
    # counter-SUM range merge over pruned days + the exact top-10
    # probe; its delta vs the quantile day-range row prices the x4
    # explode probe join vs pure window walking
    "cms_sketch_day_range",
    # round 15: the day-store maintenance lifecycle step — fragmented
    # incremental-ingest store re-aggregated to one file per day. Both
    # store writes are memoized per session (repeat 1 pays the 3-batch
    # ingest + the compaction rewrite; the median-of-3 prices the
    # steady-state compacted read); its delta vs the quantile
    # day-range row prices reading TWO whole stores (frag + compacted
    # quantile walks + the row census) vs one pruned range
    "sketch_store_compaction",
    # round 16: the retention/expiry lifecycle step — day partitions
    # below the span-midpoint cutoff deleted from a copy of the
    # compacted store (pure directory metadata; the builder is
    # memoized per session, so repeat 1 pays the copy+delete and the
    # median-of-3 prices the steady-state read of the HALF-size
    # surviving store); its delta vs the compaction row prices one
    # half-store quantile walk vs two whole-store walks + the census
    "sketch_store_retention",
]


def _drop_dead_checkpoint_blocks(spark) -> int:
    """Unpersist every persistent RDD (returns how many were dropped).

    Every ``localCheckpoint(eager=True)`` in a query leaves its blocks
    in the block manager FOREVER — the DataFrame is discarded after
    the action but the RDD blocks are not. Across the headline
    sequence (plus its sf0.001 warm pass) the dead blocks accumulate
    until the storage region and the old generation are full of them,
    and late CPU-heavy rows then burn the whole box in GC (observed:
    the tail codec rows at 5-7x their quiet medians, our own CPU at
    full throttle going to the collector). Dropping the dead blocks
    after each timed run makes every query measure in the same
    clean-heap state the driver's one-query smoke or a production job
    would see."""
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        rdds = list(jmap.values())
        for r in rdds:
            r.unpersist(False)
        return len(rdds)
    except Exception:  # hygiene must never kill the bench
        return -1


def tail_lines(
    timings: dict[str, float | None],
    cpu: dict[str, float],
    n_errors: int,
    repeats: int,
    sf: float,
    cpus: int,
) -> tuple[dict, dict]:
    """The perq and summary lines. The driver keeps only the last 2000
    characters of the output, so these two carry per-query data as
    arrays in HEADLINE order (zip them with HEADLINE for names) and
    the slowest rows by name; the full line with its name maps does
    not fit."""
    done = {k: v for k, v in timings.items() if v is not None}
    perq = {
        "line": "perq",
        "order": "bench.py HEADLINE",
        "sf": sf,
        "cpus": cpus,
        "q": [timings.get(n) for n in HEADLINE],
        "c": [cpu.get(n) for n in HEADLINE],
        "top": dict(sorted(done.items(), key=lambda kv: -kv[1])[:8]),
    }
    summary = {
        "metric": "headline_total",
        "value": round(sum(done.values()), 3),
        "unit": "sec",
        "n_queries": len(HEADLINE),
        "n_errors": n_errors,
        "repeats": repeats,
        "cpu_total": round(sum(cpu.values()), 3),
        "sf": sf,
        "line": "summary",
    }
    return perq, summary


def main() -> None:
    from perfbench.probes import ProcessTree, StatusStore

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark("ds-mapreduce-spark-bench")
    sc = spark.sparkContext
    registry = load_all()

    # warm the JVM once per query shape so per-query timings measure the
    # plan, not first-touch classloading/codegen: run every headline
    # query at the smallest scale factor first (sf0.001 ≈ free), then
    # time at the target scale. A broken query must never kill the
    # bench: failures degrade per-query into the "errors" map and the
    # JSON lines are ALWAYS printed.
    warm_dir = "/root/testdata/sf0.001"
    errors: dict[str, str] = {}
    for name in HEADLINE:
        try:
            registry[name].fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
        except Exception:
            try:
                registry[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # recorded at timing time too; warm best-effort
                errors[name] = f"warm: {type(exc).__name__}: {exc}"[:500]
        _drop_dead_checkpoint_blocks(spark)

    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))
    timings: dict[str, float | None] = {}
    cpu: dict[str, float] = {}
    rows: dict[str, dict[str, float]] = {}
    tree, store = ProcessTree(), StatusStore(spark)
    tree.start()
    try:
        for name in HEADLINE:
            fn = registry[name].fn
            sc.setJobGroup(name, f"bench {name}")
            before, sampler = tree.reading(), tree.sampler_cpu()
            samples: list[float] = []
            try:
                for _ in range(repeats):
                    t0 = time.monotonic()
                    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                    samples.append(time.monotonic() - t0)
                    # between repeats, outside the timed window: drop the
                    # run's dead checkpoint blocks so every repeat (and
                    # every query) measures in the same clean-heap state
                    _drop_dead_checkpoint_blocks(spark)
                timings[name] = round(statistics.median(samples), 3)
            except Exception as exc:
                timings[name] = None
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                _drop_dead_checkpoint_blocks(spark)
                continue
            tree_cpu = tree.cpu_since(before) - (tree.sampler_cpu() - sampler)
            python_cpu = tree.cpu_since(before, ("python",))
            cpu[name] = round(tree_cpu / repeats, 3)
            rows[name] = {"cpu_s": cpu[name], "python_cpu_s": round(python_cpu / repeats, 3)}
            totals = store.group_totals({name})[name]
            rows[name].update((k, round(v / repeats, 3)) for k, v in sorted(totals.items()))
    finally:
        tree.stop()

    perq, summary = tail_lines(
        timings, cpu, len(errors), repeats, sf, sc.defaultParallelism
    )
    result = {
        "metric": "headline_total",
        "value": summary["value"],
        "unit": "sec",
        "queries": timings,
        "rows": rows,
        "repeats": repeats,
        "sf": sf,
    }
    if errors:
        result["errors"] = errors
    print(json.dumps(result))
    print(json.dumps(perq))
    print(json.dumps(summary))


if __name__ == "__main__":
    try:
        main()
    except Exception as exc:  # even a harness-level failure emits the full and summary lines
        err = f"{type(exc).__name__}: {exc}"[:500]
        print(
            json.dumps(
                {
                    "metric": "headline_total",
                    "value": None,
                    "unit": "sec",
                    "queries": {},
                    "sf": -1.0,
                    "errors": {"__harness__": err},
                }
            )
        )
        # the compact summary marker is ALWAYS the last line, even on
        # harness failure, so tail-anchored parsers never miss it
        print(
            json.dumps(
                {
                    "metric": "headline_total",
                    "value": None,
                    "unit": "sec",
                    "n_queries": 0,
                    "n_errors": 1,
                    "sf": -1.0,
                    "line": "summary",
                }
            )
        )
        sys.exit(1)
