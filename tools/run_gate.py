"""THE GATE runner (`make test-fast`): the full pytest suite in
cost-balanced process groups (own JVM each — no pytest-xdist in this
container), wall time ≈ max(group). Group membership lives in
``tools/gate_groups.json`` (regenerated by ``tools/rebalance_gate.py``
whenever max-group creep threatens the 600s bar; see that module for
the policy).

The LAST group is always the CATCH-ALL: it runs ``tests/`` ignoring
every explicitly-listed file, so a newly added test file can never
silently drop out of the gate — it lands in the catch-all until the
next rebalance files it.

``--durations`` passes ``--durations=0`` to every group and keeps the
logs, which is exactly the input the rebalancer wants:

    python tools/run_gate.py --durations   # gate run + timing capture
    python tools/rebalance_gate.py         # regroup from those logs
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GROUPS_FILE = os.path.join(REPO, "tools", "gate_groups.json")
LOG_PREFIX = "/tmp/tf_g"


def load_groups() -> list[list[str]]:
    with open(GROUPS_FILE) as f:
        spec = json.load(f)
    groups = spec["groups"]
    missing = [p for g in groups for p in g if not os.path.exists(os.path.join(REPO, p))]
    if missing:
        print(f"# WARNING: listed test files missing (stale groups?): {missing}")
    return [[p for p in g if os.path.exists(os.path.join(REPO, p))] for g in groups]


def main() -> int:
    durations = "--durations" in sys.argv
    groups = load_groups()
    explicit = [p for g in groups for p in g]
    # `-o addopts=` drops pytest.ini's `-m "not slow"`: the gate runs both tiers
    extra = ["-o", "addopts=", *(["--durations=0"] if durations else [])]
    procs = []
    for i, g in enumerate(groups):
        log = f"{LOG_PREFIX}{i + 1}.log"
        cmd = [sys.executable, "-m", "pytest", "-q", *extra, *g]
        procs.append((i, log, time.time(), subprocess.Popen(
            cmd, stdout=open(log, "w"), stderr=subprocess.STDOUT, cwd=REPO
        )))
    # catch-all: everything NOT explicitly grouped
    log = f"{LOG_PREFIX}{len(groups) + 1}.log"
    cmd = [sys.executable, "-m", "pytest", "-q", *extra]
    cmd += [f"--ignore={p}" for p in explicit]
    cmd.append("tests/")
    procs.append((len(groups), log, time.time(), subprocess.Popen(
        cmd, stdout=open(log, "w"), stderr=subprocess.STDOUT, cwd=REPO
    )))

    rc = 0
    walls: dict[str, float] = {}
    for i, log, t0, p in procs:
        code = p.wait()
        secs = round(time.time() - t0, 1)
        walls[f"group{i + 1}"] = secs
        with open(log) as f:
            tail = [ln for ln in f.read().splitlines() if ln.strip()][-1:]
        print(f"# group {i + 1} ({secs}s, rc={code}): {tail[0] if tail else '(empty log)'}")
        if code != 0:
            rc = 1
    # as-executed wall per group — THE number the 600s bar is stated
    # against (VERDICT r9 task 5: groups contend under their own 4-way
    # parallelism, so solo-summed durations under-project; the
    # rebalancer reads this summary to calibrate a contention factor)
    with open("/tmp/tf_gate_summary.json", "w") as f:
        json.dump({"walls": walls, "unix": int(time.time())}, f)
    print(f"# max group wall as executed: {max(walls.values())}s (bar 600s)")
    return rc


if __name__ == "__main__":
    sys.exit(main())
