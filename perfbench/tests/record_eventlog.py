"""Record the small event log the tracing tests read.

    python3 perfbench/tests/record_eventlog.py

Runs three queries at local[2] with AQE on and the event log enabled:
a cached ``synth_transcripts`` build (``perfbench:setup``), an
``extract_text`` aggregation over the cache whose Arrow map sits below
a shuffle query stage (``perfbench:timed``), and a ``count`` launched
through the call-site launcher (``perfbench:callsite``). The log is
trimmed to the fields the readers use, stripped of the recording host's
paths, and written to ``fixtures/eventlog.jsonl``.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(HERE, "fixtures", "eventlog.jsonl")

#: event fields the readers never use; dropped to keep the fixture small
_DROP = ("physicalPlanDescription", "details", "Stage Infos",
         "Spark Properties", "System Properties", "Classpath Entries",
         "Hadoop Properties", "JVM Information", "Metrics Properties",
         "Task Executor Metrics", "Executor Metrics")
_KEEP_PROPS = ("spark.sql.execution.id", "spark.job.description",
               "callSite.short")


def trim(event: dict) -> dict | None:
    kind = event["Event"]
    if kind in ("SparkListenerEnvironmentUpdate", "SparkListenerLogStart",
                "SparkListenerExecutorMetricsUpdate",
                "SparkListenerResourceProfileAdded"):
        return None
    for k in _DROP:
        event.pop(k, None)
    if "Properties" in event:
        event["Properties"] = {k: v for k, v in event["Properties"].items()
                               if k in _KEEP_PROPS}
    info = event.get("Stage Info")
    if info:
        for k in ("RDD Info", "Details", "Accumulables"):
            info.pop(k, None)
    return event


def record(events_dir: str) -> None:
    sys.path[:0] = [BENCH, ROOT]
    os.environ["PYTHONPATH"] = ROOT
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (SparkSession.builder.master("local[2]")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", f"file://{events_dir}")
             .config("spark.eventLog.rolling.enabled", "false")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.logBlockUpdates.enabled", "true")
             .getOrCreate())
    import callsite

    from html_parser_spark.operators.extract import extract_text
    from html_parser_spark.sources.transcripts import synth_transcripts

    sc = spark.sparkContext
    sc.setJobDescription("perfbench:setup")
    tr = synth_transcripts(spark, 40, seed=1, partitions=2).cache()
    tr.count()
    sc.setJobDescription("perfbench:timed")
    (extract_text(tr).groupBy("n_events")
     .agg(F.sum(F.length("trimmed_text"))).collect())
    sc.setJobDescription("perfbench:callsite")
    callsite.install()
    tr.filter("turn_idx % 2 = 0").count()
    spark.stop()


def main() -> None:
    with tempfile.TemporaryDirectory() as d:
        record(d)
        (path,) = glob.glob(os.path.join(d, "*"))
        with open(path) as src, open(OUT, "w") as dst:
            for line in src:
                ev = trim(json.loads(line))
                if ev is not None:
                    # paths of the recording host are not part of the data
                    text = json.dumps(ev).replace(ROOT + "/", "")
                    dst.write(text.replace(d, "<events>") + "\n")


if __name__ == "__main__":
    main()
