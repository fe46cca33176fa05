"""Traced server launcher: `python perfbench/launcher.py serve <flags>`.

Runs `python -m fossil_spark serve <flags>` in this process with the
layer entry points wrapped in spans (spans.install). The Spark UI
address is written to $PERFBENCH_UI_FILE once the session is up, and
the spans to $PERFBENCH_SPANS after the server has shut down.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import spans  # noqa: E402


def main() -> int:
    from fossil_spark.__main__ import main as fossil_main
    from fossil_spark.session import get_spark

    tracer = spans.Tracer()
    spans.install(tracer)
    # the daemon's own get_spark call returns this same session
    spark = get_spark("fossil_spark-server")
    with open(os.environ["PERFBENCH_UI_FILE"], "w") as f:
        f.write(spark.sparkContext.uiWebUrl or "")
    try:
        return fossil_main(sys.argv[1:])
    finally:
        tracer.dump(os.environ["PERFBENCH_SPANS"])


if __name__ == "__main__":
    raise SystemExit(main())
