"""Re-record ``data/small_eventlog.jsonl``, the fixture of test_fold.py.

    python3 perfbench/tests/record_small_log.py   # from the repo root

Keeps only the event types the fold reads, so the fixture stays small.
"""

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
KEEP = ("SparkListenerJobStart", "SparkListenerTaskEnd")


def main() -> None:
    sys.path.insert(0, os.getcwd())
    import pandas as pd
    from pyspark.sql import functions as F

    from easyner_spark.session import get_spark

    log_dir = tempfile.mkdtemp(dir=os.getcwd(), prefix=".record_log_")
    try:
        spark = get_spark(
            master="local[2]",
            shuffle_partitions=2,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.adaptive.enabled": "false",
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            },
        )

        @F.pandas_udf("long")
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        sc = spark.sparkContext
        sc.setJobGroup("g_udf", "pandas udf")
        spark.range(0, 1000, 1, 2).select(plus_one("id").alias("x")).collect()
        sc.setJobGroup("g_shuffle", "repartition")
        spark.range(0, 1000, 1, 4).repartition(2).write.format("noop").mode("overwrite").save()
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.range(0, 10, 1, 1).collect()
        spark.stop()

        (name,) = os.listdir(log_dir)
        with open(os.path.join(log_dir, name)) as f, open(
            os.path.join(HERE, "data", "small_eventlog.jsonl"), "w"
        ) as out:
            for line in f:
                e = json.loads(line)
                if e["Event"] not in KEEP:
                    continue
                if "Properties" in e:
                    e["Properties"] = {
                        k: v for k, v in e["Properties"].items() if k == "spark.jobGroup.id"
                    }
                e.pop("Stage Infos", None)
                out.write(json.dumps(e) + "\n")
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
