"""One batch set-up in a process of its own.

    python3 perfbench/setup_once.py <sf_dir>

Builds the session and registers the views as the batch workload's
set-up does, then prints ``{"cpu_s", "wall_s"}`` (this process and
the JVM it launched, from process start to ready) as one JSON line,
stops the session and exits. The batch workload starts two of these
beside its own set-up, so its ``setup_s`` is a median of three.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench.run import prepare_env

    tmp = prepare_env()
    try:
        from perfbench import batch, host
        from perfbench.trace import Tracer

        spark = batch.set_up(Tracer(enabled=False), sys.argv[1])
        out = {"cpu_s": host.tree_cpu_s(), "wall_s": host.process_age_s()}
        print(json.dumps(out), flush=True)
        # The batch workload kills this process once it has read the
        # line; stopping the session is for a run by hand.
        batch.stop_spark(spark)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
