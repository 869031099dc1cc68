"""User-path benchmark of the MIaS engine: warm and CLI-shaped search,
and streaming ingest, timed end to end and per layer.

    python3 perfbench/run.py --workload query|ingest --seed N \
        --seconds S --trace 0|1

Run from the repository root. Every line before the last carries the
run's provenance and details (tails with sample counts, space and
maintenance accounting, failures). The last line is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` -- the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``. Traced runs also write their spans to
``.perfbench/spans-<workload>-seed<N>.jsonl``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys


def _git_commit(root: str) -> str:
    # the ceiling keeps git from taking the commit of a repository
    # that merely contains the checkout
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(root))
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, env=env,
                             timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _steal_s() -> float:
    """CPU time the host took from this machine's virtual CPUs so far
    (the steal column of /proc/stat); 0 where there is none."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["query", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isdir(os.path.join(root, "mias_spark")):
        print("perfbench: no mias_spark package beside perfbench/; run "
              "from a checkout of the repository", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)

    # Spark's scratch space and the JVMs' temp dirs stay in the checkout
    # (no /tmp/hsperfdata either); Python workers import the packages
    # from it
    tmp = os.path.join(root, ".perfbench", f"tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):
        os.environ[var] = (os.environ.get(var, "") + " -XX:-UsePerfData"
                           f" -Djava.io.tmpdir={tmp}").strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, root)

    steal0 = _steal_s()
    try:
        from perfbench.workloads import execute
        run, spans = execute(root, args.workload, args.seed, args.seconds,
                             bool(args.trace))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    prov = {"workload": args.workload, "seed": args.seed,
            "trace": args.trace, "nproc": os.cpu_count(),
            "master": f"local[{run.cpus}]", "git_commit": _git_commit(root),
            "samples": {k: len(v) for k, v in run.samples.items()},
            # a run slowed throughout by a busy host shows here
            "host_steal_s": round(_steal_s() - steal0, 2),
            "load.repeat_share": run.m.get("load.repeat_share")}
    print(json.dumps({"prov": prov, "tails_ms": run.tails()}))
    print(json.dumps({"prov": prov, "space": run.space}))
    print(json.dumps({"prov": prov, "spans": spans,
                      "failed_frac": len(run.failures)
                      / max(1, run.attempted),
                      "failures": run.failures,
                      "all_metrics": run.m}))
    names = spec["per_layer" if args.trace else "end_to_end"]
    metrics = {x["name"]: {"value": float(run.m.get(x["name"], 0.0)),
                           "unit": x["unit"]} for x in names}
    print(json.dumps({"correct": not run.failures,
                      "attempted": run.attempted,
                      "failed": len(run.failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
