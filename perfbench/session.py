"""Set-up shared by every workload: Spark session, warm-up, corpus tables.

Everything a run writes lives under its work directory inside the checkout:
Spark's local dir, the JVM and Python temp dirs, the stores and the corpus.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

CORES = 4  # local[4]: the benchmark box has 4 cores
WARMUP_DOCS = 256
WARMUP_ROW0 = 10**9  # far from every workload's row-id window


def spark_conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "events"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
        })
    return conf


def start_spark(work: str, trace: bool):
    from engine.session import get_spark

    spark = get_spark("perfbench", cores=CORES, shuffle_partitions=CORES,
                      extra_conf=spark_conf(work, trace))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def corpus_frame(spark, lo: int, n: int, partitions: int = CORES):
    """Pages with row ids [lo, lo + n): engine.corpus.generate_batch run
    distributed, exactly as engine.corpus.webpages does for [0, n)."""
    from engine.corpus import CORPUS_SCHEMA, _zipf_cdf, build_vocab, generate_batch

    vocab = build_vocab()
    cdf = _zipf_cdf(len(vocab) - 1)

    def gen(batches):
        for b in batches:
            yield generate_batch(b["id"].to_numpy(), vocab, cdf)

    return spark.range(lo, lo + n, numPartitions=partitions).mapInPandas(
        gen, schema=CORPUS_SCHEMA
    )


def write_corpus(spark, path: str, lo: int, n: int) -> None:
    corpus_frame(spark, lo, n).write.mode("overwrite").parquet(path)


def warm_up(spark, work: str) -> None:
    """One untimed tiny ingest into a throwaway store: starts the Python
    workers and compiles the build path before anything is timed."""
    from engine.ingest import as_partitioned_source, ingest_batch
    from engine.segments import IndexStore

    root = os.path.join(work, "warmup")
    shutil.rmtree(root, ignore_errors=True)
    src = as_partitioned_source(
        corpus_frame(spark, WARMUP_ROW0, WARMUP_DOCS, partitions=1), CORES
    )
    store = IndexStore(root, "warmup").create()
    hwm = {p: WARMUP_ROW0 // CORES - 1 for p in range(CORES)}
    ingest_batch(spark, store, src, 0, hwm, WARMUP_DOCS)
    shutil.rmtree(root, ignore_errors=True)


def set_up(work: str, trace: bool, prepare, rounds: int):
    """Run the whole set-up `rounds` times in this process: get the session,
    warm up, and the workload's `prepare(spark)` (corpus generation). Only
    the first round starts the JVM and the Python workers. Returns the
    session and every round's seconds."""
    times = []
    for _ in range(rounds):
        t0 = time.perf_counter()
        spark = start_spark(work, trace)
        warm_up(spark, work)
        prepare(spark)
        times.append(time.perf_counter() - t0)
    return spark, times


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def seeded_window(seed: int, n: int, slots: int = 10) -> int:
    """First row id of the seed's corpus window: one of `slots` disjoint
    windows; seeds = 0 mod `slots` get the window holding the special rows
    (quarantine row 3, last-write-wins pair 4/5)."""
    return int(seed % slots) * n


def rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), salt])
