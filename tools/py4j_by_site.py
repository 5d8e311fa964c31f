#!/usr/bin/env python
"""Count one benchmark operation's py4j round trips per call site.

Runs operations of a ``perfbench`` workload untraced, as
``perfbench/run.py --trace 0`` does (same environment, session and
``perfbench/workloads.py`` code, imported only), with every
``py4j.java_gateway.GatewayClient.send_command`` wrapped. It prints, per
call site, the number of commands sent to the JVM and the seconds the
caller was blocked in them, largest first (with more than one operation,
followed by those seconds split by operation), then each operation's
totals.

A command's call site is its innermost frame in the ``identity_matching_spark``
package (e.g. ``identity_matching_spark/operators/blacklist.py:115 _isin``),
else its innermost frame elsewhere in the checkout (the workload's own
code), else the name of the thread that sent it: py4j releases the JVM
objects of garbage-collected Python references from a thread of its own, so
those commands show as ``<thread> thread``. Commands sent while the workload
is prepared are not counted.

Usage: python tools/py4j_by_site.py <workload> <seed> [<operations>]
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time
from collections import defaultdict

# importing perfbench's modules must leave no bytecode cache in perfbench/
sys.dont_write_bytecode = True

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
PACKAGE = os.path.join(ROOT, "identity_matching_spark") + os.sep
THIS = os.path.abspath(__file__)


def _site(frame) -> str:
    """The call site of a command sent from ``frame`` (see the module note)."""
    outside = None
    while frame is not None:
        path = os.path.abspath(frame.f_code.co_filename)
        if path.startswith(ROOT + os.sep) and path != THIS:
            here = f"{os.path.relpath(path, ROOT)}:{frame.f_lineno} {frame.f_code.co_name}"
            if path.startswith(PACKAGE):
                return here
            outside = outside or here
        frame = frame.f_back
    return outside or f"{threading.current_thread().name} thread"


def main() -> None:
    if len(sys.argv) not in (3, 4):
        sys.exit(__doc__.strip().splitlines()[-1])
    name, seed = sys.argv[1], int(sys.argv[2])
    n_ops = int(sys.argv[3]) if len(sys.argv) == 4 else 1
    sys.path.insert(0, BENCH)
    import run

    run._isolate_environment()
    from py4j.java_gateway import GatewayClient
    from workloads import WORKLOADS

    from identity_matching_spark.session import get_spark

    workload = WORKLOADS[name]
    if any(w.caches_missing(run.WORK) for w in WORKLOADS.values()):
        subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", name,
                        "--seed", str(seed), "--seconds", "0", "--build-caches"],
                       stdout=sys.stderr, check=True)
    spark = get_spark(app_name="py4j-by-site", master=f"local[{run._cores()}]")
    spark.sparkContext.setLogLevel("ERROR")
    workload.prepare(spark, run.WORK, seed)

    sites: dict[str, list] = defaultdict(lambda: [0, 0.0, [0.0] * n_ops])
    totals = [0, 0.0]
    current = 0
    lock = threading.Lock()
    send = GatewayClient.send_command

    def counting(self, *args, **kwargs):
        start = time.perf_counter()
        try:
            return send(self, *args, **kwargs)
        finally:
            blocked = time.perf_counter() - start
            site = _site(sys._getframe(1))
            with lock:
                for acc in (sites[site], totals):
                    acc[0] += 1
                    acc[1] += blocked
                sites[site][2][current] += blocked

    per_op = []
    GatewayClient.send_command = counting
    try:
        for index in range(n_ops):
            current = index
            n0, secs0, wall0 = totals[0], totals[1], time.perf_counter()
            workload.op(index)
            per_op.append((totals[0] - n0, totals[1] - secs0, time.perf_counter() - wall0))
    finally:
        GatewayClient.send_command = send
        run._stop(spark)

    for site, (n, secs, by_op) in sorted(sites.items(), key=lambda kv: (-kv[1][0], -kv[1][1])):
        split = " / ".join(f"{s:.2f}s" for s in by_op) if n_ops > 1 else ""
        print(f"{n:7d} {secs:8.2f}s  {site}" + (f"  ({split})" if split else ""))
    for index, (n, secs, wall) in enumerate(per_op):
        print(f"{n:7d} {secs:8.2f}s  total of operation {index} ({wall:.1f} s wall)")


if __name__ == "__main__":
    main()
