"""Skewed scale tier (VERDICT r8 #5): the 1x/3x/10x probe holds
per-key workload DENSITY constant by construction, so it never
exercises AQE skew splitting or the salted-join path under a genuinely
hot key. This probe builds a 10x-SKEW corpus — same row volume as the
uniform 10x tier, but with the keys deliberately melted — and reports
t(10x-skew) / t(10x-uniform) for the queries whose plans partition by
those keys. A ratio near 1 means the plan absorbs the hot key (salting
/ capping / AQE split working as the docstrings promise); a ratio far
above 1 means one straggler partition dominates wall-time.

Skew construction (volume identical to the uniform tier — only the
key DISTRIBUTION changes, so the ratio isolates skew handling):

- events: the uniform tier's 10 disjoint re-keyed user populations,
  except copies 0-1 (20% of all rows) collapse onto ONE user_id and
  ONE event_type — a single user owning 200k of 1M events (~3000x the
  median user's history; per-user windows see a 200k-row partition)
  and 'click' owning ~36% of rows vs the uniform 20%;
- documents: the uniform tier's per-copy token suffixing, plus a
  sentinel token appended to every doc of copies 0-1 — one word whose
  df is 20% of the corpus (10k docs), the exact hot-postings case
  mr_inverted_index_capped's per-key cap exists for.

Queries measured (each names the key its plan partitions by):
  events_sessionization       per-user_id session windows
  session_path_analysis       per-user_id path windows
  events_robust_outliers      per-event_type exact median/MAD
  skew_salted_join            event_type join (salt fan-out = 8)
  mr_inverted_index_capped    per-word postings (cap = 16)

Writes NOTHING outside /tmp. Run:
    python scripts/skew_probe.py             # build (if absent) + measure
    python scripts/skew_probe.py --rebuild
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
UNIFORM_DIR = "/tmp/spark_graft_scale10"
SKEW_DIR = "/tmp/spark_graft_skew10"
COPIES = 10
HOT_COPIES = 2  # copies 0-1 -> the hot key (20% of rows)
HOT_TOKEN = "zqskewhotterm"


def build_skew(spark) -> None:
    from ds_mapreduce_spark.sources.catalog import load_table

    ev = load_table(spark, BASE, "events")
    parts = []
    for i in range(COPIES):
        c = ev.withColumn("event_id", F.col("event_id") * COPIES + i)
        if i < HOT_COPIES:
            # the hot fifth: one user, one event_type — volume unchanged
            c = c.withColumn("user_id", F.lit(1).cast("bigint")).withColumn(
                "event_type", F.lit("click")
            )
        else:
            c = c.withColumn("user_id", F.col("user_id") * COPIES + i)
        parts.append(c)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(32).write.mode("overwrite").parquet(
        f"{SKEW_DIR}/events.parquet"
    )

    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    parts = []
    for i in range(COPIES):
        txt = (
            F.col("text")
            if i == 0
            else F.regexp_replace("text", r"(\S+)", f"$1_{i}")
        )
        if i < HOT_COPIES:
            # one token with df = 20% of the corpus; one append per doc
            # keeps the per-doc token count within +1 of the uniform tier
            txt = F.concat(txt, F.lit(" " + HOT_TOKEN))
        parts.append(
            docs.select(
                (F.col("doc_id") * COPIES + i).alias("doc_id"),
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
        f"{SKEW_DIR}/documents.parquet"
    )


NAMES = [
    "events_sessionization",
    "session_path_analysis",
    "events_robust_outliers",
    "skew_salted_join",
    "mr_inverted_index_capped",
]


def main() -> None:
    from ds_mapreduce_spark.plans.registry import load_all
    from ds_mapreduce_spark.session import get_spark

    spark = get_spark("skew-probe")
    registry = load_all()

    # presence checks cover EVERY table each build writes — a build
    # interrupted mid-way must not read as complete (code-review r9)
    if "--rebuild" in sys.argv or not all(
        os.path.isdir(f"{UNIFORM_DIR}/{t}.parquet")
        for t in ("documents", "embeddings", "lineitem", "events")
    ):
        from scale_probe import build  # sibling script, same /tmp tiers

        t0 = time.monotonic()
        build(spark, UNIFORM_DIR, COPIES)
        print(f"built uniform 10x in {time.monotonic() - t0:.1f}s")
    if "--rebuild" in sys.argv or not all(
        os.path.isdir(f"{SKEW_DIR}/{t}.parquet")
        for t in ("documents", "events")
    ):
        t0 = time.monotonic()
        build_skew(spark)
        print(f"built skew 10x in {time.monotonic() - t0:.1f}s")

    from perfbench.probes import ProcessTree  # repo root is on sys.path

    tree = ProcessTree()
    tree.start()

    def run(name: str, sf_dir: str):
        """(wall sec, rows, CPU sec of this process, the JVM and its
        Python workers, without the sampler's own CPU)"""
        before, sampler = tree.reading(), tree.sampler_cpu()
        t0 = time.monotonic()
        n = registry[name].fn(spark, sf_dir).count()
        dt = time.monotonic() - t0
        cpu = tree.cpu_since(before) - (tree.sampler_cpu() - sampler)
        return dt, n, cpu

    results = {}
    for name in NAMES:
        try:  # warm codegen/readers on the tiny SF (bench.py convention)
            run(name, "/root/testdata/sf0.001")
        except Exception:
            pass
        tu, nu, cu = run(name, UNIFORM_DIR)
        ts, ns, cs = run(name, SKEW_DIR)
        results[name] = {
            "t_uniform10x_sec": round(tu, 3),
            "t_skew10x_sec": round(ts, 3),
            "skew_ratio": round(ts / tu, 2),
            "rows_uniform": nu,
            "rows_skew": ns,
            # CPU barely moves with host steal: a wall ratio that its
            # CPU ratio does not follow is environment, not a hot key
            "cpu_uniform10x_sec": round(cu, 3),
            "cpu_skew10x_sec": round(cs, 3),
        }
        print(
            f"{name:28s} uniform {tu:6.2f}s   skew {ts:6.2f}s   "
            f"ratio {ts / tu:5.2f}"
        )
    tree.stop()
    print(json.dumps(results))


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    main()
