"""Fault-injection drive for materialize(mode='checkpoint') — run as a
subprocess by tests/test_materialize.py (needs its own SparkContext on a
local-cluster master, which can't coexist with the session fixture's).

Scenario (VERDICT r5, Next-round #4): run the real iterative operator
(connected_components, whose every round goes through materialize()) on
local-cluster[2,1,1024] with the durable-checkpoint posture, SIGKILL one
executor JVM mid-iteration, and assert the job still completes with the
exact union-find answer. With mode='local' the killed executor's
localCheckpoint blocks would be unrecoverable; with reliable checkpoint
the blocks re-read from the checkpoint dir (same-host file:// here, DFS
on a real cluster) and standalone relaunches the executor.

Exit codes: 0 pass, 1 wrong result, 3 environment can't run the
scenario (caller skips), 4 kill landed after completion (inconclusive —
caller skips rather than flakes).
"""

from __future__ import annotations

import os
import signal
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CHAINS = 40
CHAIN_LEN = 15  # diameter => iteration count: enough rounds to kill into


def expected_components() -> dict[int, int]:
    # chain c covers nodes [c*100, c*100 + CHAIN_LEN]; min label = c*100
    out = {}
    for c in range(CHAINS):
        for i in range(CHAIN_LEN + 1):
            out[c * 100 + i] = c * 100
    return out


def executor_pids(app_id: str) -> list[int]:
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().decode("utf-8", "replace")
        except OSError:
            continue
        if "CoarseGrainedExecutorBackend" in cmd and app_id in cmd:
            pids.append(int(pid))
    return pids


def main() -> int:
    from pyspark.sql import SparkSession

    from odl_etl_spark.operators.components import connected_components
    from odl_etl_spark.session import enable_durable_materialize

    ckpt = tempfile.mkdtemp(prefix="odl_fault_ckpt_")
    try:
        spark = (
            SparkSession.builder.appName("odl-fault-inject")
            .master("local-cluster[2,1,1024]")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.shuffle.partitions", "8")
            .config("spark.sql.adaptive.enabled", "true")
            # The 600-edge graph fits under the broadcast threshold, so
            # connected_components would close it on the driver before
            # the kill lands; auto-broadcast off forces the round loop.
            .config("spark.sql.autoBroadcastJoinThreshold", "-1")
            .getOrCreate()
        )
    except Exception as e:  # pragma: no cover - environment-dependent
        print(f"SKIP: local-cluster session failed: {e}")
        return 3
    try:
        sc = spark.sparkContext
        app_id = sc.applicationId
        # Wait for both executors to register so the kill removes one of
        # two live JVMs, not the only one.
        deadline = time.time() + 60
        while sc._jsc.sc().getExecutorIds().size() < 2:
            if time.time() > deadline:
                print("SKIP: executors never registered")
                return 3
            time.sleep(0.5)

        enable_durable_materialize(spark, "file://" + ckpt)

        edges = spark.createDataFrame(
            [
                (c * 100 + i, c * 100 + i + 1)
                for c in range(CHAINS)
                for i in range(CHAIN_LEN)
            ],
            "src long, dst long",
        ).repartition(8)

        state = {"killed_at": None, "done_at": None, "victim": None}

        def killer():
            time.sleep(4.0)  # several materialize() rounds in
            pids = executor_pids(app_id)
            if pids:
                state["victim"] = pids[0]
                os.kill(pids[0], signal.SIGKILL)
                state["killed_at"] = time.time()
                print(f"killed executor pid={pids[0]}")

        t = threading.Thread(target=killer, daemon=True)
        t.start()

        result = {
            r["node"]: r["component"]
            for r in connected_components(edges).collect()
        }
        state["done_at"] = time.time()
        t.join(timeout=10)

        if state["killed_at"] is None or state["killed_at"] >= state["done_at"]:
            print("SKIP: kill did not land mid-run (job finished too fast)")
            return 4

        exp = expected_components()
        if result != exp:
            diff = {k: (result.get(k), exp[k]) for k in exp if result.get(k) != exp[k]}
            print(f"FAIL: {len(diff)} wrong labels, sample: {list(diff.items())[:5]}")
            return 1
        print(
            f"PASS: {len(result)} nodes correct; executor {state['victim']} "
            f"killed {state['done_at'] - state['killed_at']:.1f}s before completion"
        )
        return 0
    finally:
        try:
            spark.stop()
        finally:
            import shutil

            shutil.rmtree(ckpt, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
