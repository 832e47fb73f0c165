"""Optimized-logical-plan digest of every contract query.

Usage: python scripts/plan_digest.py OUT.json [sf_dir]

``sf_dir`` defaults to ``$SPARK_GRAFT_TEST_SF``, the variable the tests
read their testdata directory from.

Writes ``{query: optimized logical plan text}`` for every ``QUERIES``
entry, with expression ids (``#\\d+L?``) and ``plan_id=\\d+`` tags
stripped so that two runs, or two commits, diff on structure alone.
A refactor that should not change any plan is checked by running this
before and after it on the same testdata and diffing the two files.

Plan text stops at a ``localCheckpoint``: everything below it shows as
one ``LogicalRDD`` leaf, so a change under a checkpoint does not show
up here. The digest is therefore evidence only together with
``easyner_spark.compare.compare_query`` on the same queries.
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_IDS = re.compile(r"#\d+L?|plan_id=\d+")


def main() -> int:
    if not 2 <= len(sys.argv) <= 3:
        raise SystemExit(__doc__.splitlines()[2])
    out_path = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ["SPARK_GRAFT_TEST_SF"]
    from easyner_spark.queries import QUERIES
    from easyner_spark.session import get_spark

    spark = get_spark(app_name="plan_digest")
    plans = {}
    for name, fn in sorted(QUERIES.items()):
        plan = fn(spark, sf_dir)._jdf.queryExecution().optimizedPlan()
        plans[name] = _IDS.sub("", plan.toString())
    with open(out_path, "w") as f:
        json.dump(plans, f, indent=1, sort_keys=True)
    print(json.dumps({"queries": len(plans), "out": out_path}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
