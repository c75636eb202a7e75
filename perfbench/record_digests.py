"""Record the reference digests of the queries in ``workloads.DIGESTED``.

    python3 perfbench/record_digests.py

Their DuckDB oracles replay the codecs in recursive CTEs and take about
a minute each, too slow for every benchmark run. This script runs each
query on Spark and its oracle once, on the benchmark's generated tables at
the codec workload's scale and the smoke check's (the codec payloads
depend only on the document count, never on the seed), and stores the digest in ``digests.json`` only when the two match.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

from run import ROOT, prepare_env

from workloads import DIGESTED, SMOKE_SF, WORKLOAD_SF


def main() -> int:
    work = os.path.join(ROOT, ".perfbench_work", f"digests-{os.getpid()}")
    prepare_env(work)
    import check
    import datagen
    from ds_mapreduce_spark.plans.registry import load_all
    from ds_mapreduce_spark.session import get_spark
    from ds_mapreduce_spark.sources.catalog import TABLES

    spark = get_spark("perfbench-digests")
    registry = load_all()
    digests = check.load_digests() if os.path.exists(check.DIGESTS) else {}
    ok = True
    for sf in (WORKLOAD_SF["codec_python"], SMOKE_SF):
        tables = datagen.make_tables(sf, 0)
        n_docs = tables["documents"].num_rows
        data_dir = os.path.join(work, f"data-{sf}")
        datagen.write_tables(tables, data_dir)
        con = check.duck(data_dir, TABLES)
        for name in DIGESTED:
            df = registry[name].fn(spark, data_dir)
            rows, cols = df.collect(), df.columns
            if not check.matches_oracle(con, registry[name].oracle, rows, cols):
                print(f"{name}: Spark result does not match its oracle", file=sys.stderr)
                ok = False
                continue
            digests[check.digest_key(name, n_docs)] = check.digest(rows, cols)
            print(f"{name} at {n_docs} documents: recorded", file=sys.stderr)
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    with open(check.DIGESTS, "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
