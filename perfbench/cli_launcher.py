"""Run a script as ``python3 SCRIPT ARGS...`` would, with the benchmark's
span wrappers installed before the script resolves any sheep_spark
function:

    python3 perfbench/cli_launcher.py SIDECAR.json scripts/run_pipeline.py --input ...

The wrappers stay disabled unless PERFBENCH_TRACE=1, so an untraced run
pays one flag test per wrapped call. Either way the launcher times
``session.get_spark`` and, when the script returns, writes SIDECAR.json
with that setup time, the process's peak RSS, whether the driver's C
kernels loaded and, when traced, the spans with their Spark job totals
(gathered just before the script stops its SparkSession).
"""

from __future__ import annotations

import json
import os
import resource
import runpy
import sys
import time


def main() -> None:
    start = time.perf_counter()
    sidecar, script, *argv = sys.argv[1:]
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, os.path.dirname(here))
    sys.path.insert(0, here)
    import spans
    from pyspark.sql import SparkSession

    tracer = spans.Tracer(os.environ.get("PERFBENCH_RUN_ID", str(os.getpid())))
    spans.install(tracer)
    if "--k" in argv:
        tracer.context["k"] = int(argv[argv.index("--k") + 1])
    tracer.enabled = os.environ.get("PERFBENCH_TRACE") == "1"

    original_stop = SparkSession.stop

    def stop(self):
        if tracer.enabled:
            tracer.collect_spark(self.sparkContext)
        return original_stop(self)

    SparkSession.stop = stop
    sys.argv = [script, *argv]
    try:
        runpy.run_path(script, run_name="__main__")
    finally:
        from sheep_spark import _csweep

        out = {
            "start": start,
            "end": time.perf_counter(),
            "setup_s": tracer.setup_s,
            "peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
            "csweep_compiled": int(_csweep.loaded() is not None),
            "spans": tracer.spans,
            "counters": tracer.counters,
        }
        with open(sidecar, "w") as f:
            json.dump(out, f)


if __name__ == "__main__":
    main()
