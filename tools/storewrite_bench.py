"""Decompose the fresh store write's cost (``_store_write`` with
``overwrite``: the round-0 setup phase that scales only ~2.5x from 4->16
cores).

Times, at one parallelism level in a fresh session, over N synthetic long-id
triples shaped like an encoded abox:
  plain      — write.parquet, no partitioning (the lower bound)
  partby     — write.partitionBy(__pb)  (what _store_write does today:
               per-task dynamic-partition sort + up to tasks x 64 files)
  sorted     — sortWithinPartitions(__pb) + partitionBy (planner skips its
               own sort; same file fan-out)
  shuffled   — repartition(64, __pb) + partitionBy (one extra shuffle,
               exactly 64 files, no per-task sort spill)

Run it at both bench levels to see which variant closes the scaling gap:
    python tools/storewrite_bench.py --rows 40000000 --cores 4  --mode local-cluster
    python tools/storewrite_bench.py --rows 40000000 --cores 16 --mode local-cluster
Prints one JSON line per variant.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=40_000_000)
    ap.add_argument("--cores", type=int, default=16)
    ap.add_argument("--mode", default="local")
    ap.add_argument("--mult", type=int, default=2)
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_CPUS", str(args.cores))
    from pyspark.sql import functions as F

    from arachne_spark.engine import PB_BUCKETS
    from arachne_spark.session import build_session

    master = None
    if args.mode == "local-cluster":
        exec_cores = int(os.environ.get("SPARK_GRAFT_EXEC_CORES", "4"))
        exec_mem_mb = int(os.environ.get("SPARK_GRAFT_EXEC_MEM_MB", "6144"))
        n_exec = max(1, args.cores // exec_cores)
        master = f"local-cluster[{n_exec},{exec_cores},{exec_mem_mb}]"
        os.environ["SPARK_GRAFT_EXECUTOR_MEM"] = f"{exec_mem_mb - 1024}m"
    spark = build_session(
        "storewrite",
        cores=args.cores,
        shuffle_partitions=args.cores * args.mult,
        extra={"spark.ui.showConsoleProgress": "false"},
        master=master,
    )

    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    # synthetic encoded abox: ~60 hot predicates (Zipf-ish via pmod of a
    # skewed expression), subjects/objects spread like hashed IRIs
    df = (
        spark.range(args.rows)
        .select(
            F.xxhash64(F.col("id")).alias("s"),
            F.xxhash64(F.pmod(F.col("id"), F.lit(60)) * 13).alias("p"),
            F.xxhash64(F.col("id") + 1).alias("o"),
        )
        .withColumn("__rnd", F.lit(0))
    )
    df = df.localCheckpoint(eager=True)  # isolate generation from the writes

    def timed(name, plan_fn):
        out = tempfile.mkdtemp(prefix=f"sw_{name}_", dir=base)
        shutil.rmtree(out)
        t0 = time.time()
        plan_fn(out)
        dt = round(time.time() - t0, 2)
        n_files = sum(len(fs) for _, _, fs in os.walk(out))
        shutil.rmtree(out, ignore_errors=True)
        print(
            json.dumps(
                {
                    "variant": name,
                    "cores": args.cores,
                    "rows": args.rows,
                    "seconds": dt,
                    "files": n_files,
                }
            ),
            flush=True,
        )

    pb = F.pmod(F.col("p"), F.lit(PB_BUCKETS))

    timed("plain", lambda o: df.write.parquet(o))
    timed(
        "partby",
        lambda o: df.withColumn("__pb", pb).write.partitionBy("__pb").parquet(o),
    )
    timed(
        "sorted",
        lambda o: df.withColumn("__pb", pb)
        .sortWithinPartitions("__pb")
        .write.partitionBy("__pb")
        .parquet(o),
    )
    timed(
        "shuffled",
        lambda o: df.withColumn("__pb", pb)
        # (__pb, s-salt) keys: write parallelism stays at cores x mult even
        # when few distinct buckets exist, and each task holds ~1 bucket so
        # the dynamic-partition sort degenerates to nearly-sorted runs
        .repartition(args.cores * args.mult, F.col("__pb"), F.pmod(F.col("s"), F.lit(8)))
        .write.partitionBy("__pb")
        .parquet(o),
    )
    spark.stop()


if __name__ == "__main__":
    main()
