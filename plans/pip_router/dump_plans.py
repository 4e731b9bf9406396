"""Dump the formatted physical plans of the PIP-family catalog queries.

    python plans/pip_router/dump_plans.py <repo_root> <sf_dir> <out_dir>

Imports ``geospark`` from ``<repo_root>`` (so two checkouts can be
compared), builds ``q_pip_join``, ``q_pip_tile_agg`` and
``q_pip_join_many`` over the parquet tables in ``<sf_dir>`` under the
shipped ``TUNED_CONF``, and writes one ``<query>.txt`` per query with
expression ids (``#123``), RDD ids (``[12]``) and the data directory
replaced by placeholders, so plans from two runs can be compared with
``diff -r``.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

QUERIES = ("q_pip_join", "q_pip_tile_agg", "q_pip_join_many")


def normalize(plan: str, sf_dir: str) -> str:
    plan = plan.replace(sf_dir, "<sf_dir>")
    plan = re.sub(r"#\d+L?", "#_", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=_", plan)
    return re.sub(r"RDD\[\d+\]", "RDD[_]", plan)


def main(root: str, sf_dir: str, out_dir: str) -> None:
    sf_dir, out_dir = os.path.abspath(sf_dir), os.path.abspath(out_dir)
    sys.path.insert(0, os.path.abspath(root))
    os.chdir(root)  # executor Python workers import geospark from cwd
    from pyspark.sql import SparkSession

    from geospark import queries
    from geospark.conf import apply_tuned
    spark = (apply_tuned(SparkSession.builder.master("local[4]"))
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out_dir, exist_ok=True)
    for name in QUERIES:
        df = getattr(queries, name)(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        plan = buf.getvalue()
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(normalize(plan, sf_dir))
    spark.stop()


if __name__ == "__main__":
    main(*sys.argv[1:])
