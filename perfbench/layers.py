"""Per-layer metrics: what each one counts, which end-to-end metric it
should move and on which workload, written down before any change is
measured against them.

``moves`` names end-to-end metrics (``op_s.<op>`` are the per-operation
latencies printed in the run summary), ``on`` the workloads where a
change to the layer should show, ``not_on`` the workloads where the
prediction is no change. Every traced run copies this table into its
report.
"""

from __future__ import annotations

CODEC_OPS = "pages_codec codec ops (op_s.point_roundtrip, ...)"
OPERATORS = {
    "moves": ["op_s.knn", "op_s.pip_boxes", "pass_s"],
    "on": ["pip_join"], "not_on": [CODEC_OPS]}
SPARK = {"moves": ["op_s.*", "pass_s"],
         "on": ["pip_join", "pages_codec"], "not_on": []}
CHECKPOINT = {"moves": ["op_s.pipeline_commit", "rows_per_s"],
              "on": ["pages_codec"], "not_on": ["pip_join"]}
FUNCTIONS = {"moves": ["op_s.point_roundtrip", "op_s.schema_infer",
                       "rows_per_s"],
             "on": ["pages_codec"], "not_on": ["pip_join"]}
KERNELS = {"moves": ["op_s.point_roundtrip", "op_s.polygon_roundtrip"],
           "on": ["pages_codec"],
           "not_on": ["pip_join (its refine is a JVM expression)"]}
CONTEXT = {"moves": [], "on": ["all (explains noise)"], "not_on": []}

# name -> (unit, better, what it counts, layer mapping)
METRICS: dict[str, tuple[str, str, str, dict]] = {
    "operators.call_s": ("s", "lower", "engine call before the action, "
                         "eager side jobs included", OPERATORS),
    "operators.side_jobs": ("count", "lower", "Spark jobs started inside "
                            "the engine call", OPERATORS),
    "operators.action_s": ("s", "lower", "the action forcing the result",
                           OPERATORS),
    "spark.jobs": ("count", "lower", "jobs in the op's job groups", SPARK),
    "spark.stages": ("count", "lower", "stages run (skipped excluded)",
                     SPARK),
    "spark.tasks": ("count", "lower", "tasks run", SPARK),
    "spark.task_s": ("s", "lower", "executor run time of all tasks", SPARK),
    "spark.jvm_cpu_s": ("s", "lower", "executor JVM CPU (Python worker "
                        "time excluded)", SPARK),
    "spark.gc_s": ("s", "lower", "JVM GC time inside tasks", SPARK),
    "spark.shuffle_write_mb": ("MB", "lower", "shuffle bytes written",
                               SPARK),
    "spark.shuffle_read_mb": ("MB", "lower", "shuffle bytes read", SPARK),
    "spark.spill_mb": ("MB", "lower", "memory plus disk spill", SPARK),
    "spark.input_mb": ("MB", "lower", "bytes scanned", SPARK),
    "spark.output_mb": ("MB", "lower", "bytes written by tasks", SPARK),
    "spark.failed_tasks": ("count", "lower", "failed task attempts", SPARK),
    "spark.core_busy_frac": ("frac", "higher", "task time / (op wall x "
                             "task threads)", SPARK),
    "sources.checkpoint.commit_s": ("s", "lower", "wall of the three stage "
                                    "commits", CHECKPOINT),
    "sources.checkpoint.commit_jobs": ("count", "lower", "jobs the commits "
                                       "started", CHECKPOINT),
    "sources.checkpoint.mb_written": ("MB", "lower", "snapshot bytes "
                                      "committed", CHECKPOINT),
    "sources.checkpoint.resume_s": ("s", "lower", "wall of the all-skipped "
                                    "resume pass", CHECKPOINT),
    "functions.python_nodes": ("count", "lower", "SQL plan nodes running "
                               "Python workers", FUNCTIONS),
    "functions.py_worker_s": ("s", "lower", "time to run Python workers",
                              FUNCTIONS),
    "functions.py_init_s": ("s", "lower", "time to initialize Python "
                            "workers", FUNCTIONS),
    "functions.py_rows": ("count", "lower", "rows out of Python nodes",
                          FUNCTIONS),
    "functions.py_mb_sent": ("MB", "lower", "Arrow bytes sent to Python",
                             FUNCTIONS),
    "functions.py_mb_recv": ("MB", "lower", "Arrow bytes returned from "
                             "Python", FUNCTIONS),
    "functions.boundary_s": ("s", "lower", "Python worker time minus the "
                             "direct kernel time for the same rows",
                             FUNCTIONS),
    "kernels.wkb.parse_wkb_ns": ("ns", "lower", "per-row WKB parse (the "
                                 "to_geoarrow path)", KERNELS),
    "kernels.wkb.write_wkb_ns": ("ns", "lower", "per-row WKB write (the "
                                 "from_geoarrow path)", KERNELS),
    "kernels.wkb.parse_point_buffer_ns": ("ns", "lower", "vectorized point "
                                          "WKB parse", KERNELS),
    "kernels.wkb.parse_polygon_buffer_ns": ("ns", "lower", "vectorized "
                                            "polygon WKB parse", KERNELS),
    "kernels.wkb.points_to_wkb_ns": ("ns", "lower", "vectorized point WKB "
                                     "write", KERNELS),
    "kernels.garrow.encode_ns": ("ns", "lower", "geometries to GeoArrow "
                                 "arrays", KERNELS),
    "kernels.garrow.decode_ns": ("ns", "lower", "GeoArrow arrays to "
                                 "geometries", KERNELS),
    "kernels.ops.point_in_rings_ns": ("ns", "lower", "NumPy ray cast",
                                      KERNELS),
    "functions.cells.encode_np_ns": ("ns", "lower", "NumPy cell encode",
                                     KERNELS),
    "host.steal_frac": ("frac", "lower", "CPU steal share over the run",
                        CONTEXT),
    "host.loadavg": ("load", "lower", "1-minute load, mean of start and "
                     "end", CONTEXT),
    "trace_overhead_frac": ("frac", "lower", "traced / untraced median "
                            "pass wall - 1", CONTEXT),
    "trace.unattributed_frac": ("frac", "lower", "pass wall not covered by "
                                "op spans (status-store reads, loop)",
                                CONTEXT),
}
