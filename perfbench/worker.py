"""Child process that holds one Spark session.

``--workload extract`` sets the workload up ``--reps`` times (input
generation and caching), runs one untimed warm-up job, times the
pure-JVM host probe, then runs the workload's job in a closed loop
within ``--seconds`` and checks every result. ``--probe`` starts a
session with the curation CLI's settings, imports the modules that CLI
imports, optionally times the host probe, and exits: the CLI
workload's set-up.

Progress goes to stdout as JSON lines; timestamps are
``time.monotonic()`` (shared by every process of the host) so the
parent can measure from the moment it spawned this process.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def emit(obj: dict) -> None:
    print(json.dumps(obj), flush=True)


def host_probe(spark) -> float:
    """Seconds for a fixed single-task JVM job (no Python worker), so
    background load on the host shows next to each run."""
    from pyspark.sql import functions as F

    q = spark.range(0, 40_000_000, 1, 1).select(F.bit_xor(F.xxhash64("id")))
    q.collect()                      # code generation, class loading
    t0 = time.monotonic()
    q.collect()
    return time.monotonic() - t0


class Extract:
    """``extract_text`` over the wrapped, fanned-out document corpus."""

    def __init__(self, spark, args):
        self.spark, self.args = spark, args
        self.docs_dir = os.path.join(args.work, "inputs",
                                     f"extract-{args.seed}")

    def setup(self):
        import corpus

        from html_parser_spark.sources.transcripts import wrap_documents

        corpus.write_documents(
            self.docs_dir,
            corpus.fanout_texts(self.args.docs, self.args.fanout,
                                self.args.seed),
            self.args.seed)
        tr = (wrap_documents(self.spark, self.docs_dir)
              .repartition(self.args.cpus * 4).cache())
        self.turns = tr.count()
        return tr

    def expected(self, tr):
        import corpus

        return list(corpus.extract_oracle(self.docs_dir))

    def job(self, tr):
        from pyspark.sql import functions as F

        from html_parser_spark.config import EXTRACT_CONFIG
        from html_parser_spark.operators.extract import extract_text

        t = F.col("trimmed_text")
        row = extract_text(tr, EXTRACT_CONFIG).agg(
            F.count("*"), F.sum(F.length(t)),
            F.sum(F.conv(F.substring(F.md5(t), 1, 8), 16, 10)
                  .cast("bigint"))).collect()[0]
        return [int(row[0]), int(row[1] or 0), int(row[2] or 0)]


def session(args):
    from pyspark.sql import SparkSession

    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get(
        "PYTHONPATH", "")
    name = (f"perfbench-{args.workload}" if args.workload
            else "transcript-curation-pipeline")
    spark = (SparkSession.builder.master(f"local[{args.cpus}]")
             .appName(name)
             .config("spark.sql.shuffle.partitions", str(args.cpus))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def probe(args) -> None:
    spark = session(args)
    # the modules scripts/run_curation.py imports in --warc mode
    from html_parser_spark.config import EXTRACT_CONFIG  # noqa: F401
    from html_parser_spark.operators import dedup, textstats  # noqa: F401
    from html_parser_spark.operators.extract import extract_text  # noqa
    from html_parser_spark.sources.transcripts import wrap_documents  # noqa
    from html_parser_spark.sources.warc import synth_warc  # noqa: F401

    emit({"ready": time.monotonic()})
    if args.host_probe:
        emit({"host_probe_s": host_probe(spark)})
    spark.stop()


def workload(args) -> None:
    spark = session(args)
    emit({"ready": time.monotonic()})
    sc = spark.sparkContext
    w = Extract(spark, args)
    sc.setJobDescription("perfbench:setup")
    reps, tr = [], None
    for _ in range(args.reps):
        if tr is not None:
            tr.unpersist(blocking=True)
        t0 = time.monotonic()
        tr = w.setup()
        reps.append(time.monotonic() - t0)
    t0 = time.monotonic()
    w.job(tr)           # warm-up: Python workers, their caches, the JIT
    warm_s = time.monotonic() - t0
    sc.setJobDescription("perfbench:check")
    want = w.expected(tr)
    sc.setJobDescription("perfbench:probe")
    probe_s = host_probe(spark)
    sc.setJobDescription("perfbench:timed")
    jobs = []
    t_end = time.monotonic() + args.seconds
    while not jobs or time.monotonic() + jobs[-1]["wall_s"] <= t_end:
        start, m0 = time.time(), time.monotonic()
        try:
            got = w.job(tr)
            ok, err = got == want, None
        except Exception:        # a failed job is counted, not fatal
            got, ok, err = None, False, traceback.format_exc(limit=3)
        jobs.append({"start": start, "end": time.time(),
                     "wall_s": time.monotonic() - m0, "ok": ok,
                     "error": err or (None if ok else
                                      f"got {got!r}, want {want!r}")})
    emit({"result": {"setup_reps_s": reps, "warm_up_s": warm_s,
                     "host_probe_s": probe_s,
                     "turns": w.turns, "jobs": jobs}})
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=("extract",))
    ap.add_argument("--probe", action="store_true")
    ap.add_argument("--host-probe", action="store_true")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--cpus", type=int, default=os.cpu_count() or 1)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--work", default=".")
    ap.add_argument("--docs", type=int, default=5000)
    ap.add_argument("--fanout", type=int, default=8)
    args = ap.parse_args()
    if args.probe:
        probe(args)
    else:
        workload(args)


if __name__ == "__main__":
    main()
