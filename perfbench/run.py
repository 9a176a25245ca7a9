"""KG-construction benchmark: one seeded workload, checked, with metrics.

    python3 perfbench/run.py --workload kg_wide --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  The inputs are generated from the seed and
staged as parquet under ``.perfbench/inputs`` (once per workload, seed and
size).  Every Spark session lives in a fresh child process:

* ``--trace 0``: the process builds a session (``setup_s``), runs a cold
  pass (``first_pass_s``, printed), two warm-up passes and measured passes for
  ``--seconds`` (at least three; ``pages_per_s`` uses their median wall
  time), and checks every pass.  Peak RSS of its process tree is read from ``/proc`` and
  printed.  The end-to-end metrics are printed.
* ``--trace 1``: one process runs a cold pass, an untraced warm pass and a
  traced pass with the Spark event log on; the per-layer metrics are printed.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  Everything the run
writes stays under ``.perfbench`` in the checkout: staged inputs, and in
``results/`` one record per run (and the spans of a traced run).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "semanticrelationextractionpolish_spark"
WORKLOADS = ("kg_wide", "web_dedup")
CHILD_TIMEOUT_S = 150

END_TO_END = {
    "setup_s": "s",
    "pages_per_s": "1/s",
    "pair_f1": "ratio",
}
# printed and recorded, not bounded: one sample per run is too noisy
# (see README.md)
REPORTED = {"first_pass_s": "s", "peak_rss_mb": "MB"}


def layer_unit(name: str) -> str:
    for suffix, unit in (("_s", "s"), ("_mb", "MB"), ("_mb_per_batch", "MB"), ("_pct", "%"),
                         ("_f1", "ratio"), ("_ratio", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def _proc_tree_rss(root_pid: int) -> dict[str, int]:
    """Resident bytes of ``root_pid`` (the driver), the JVM and the other
    descendants (Python workers), read from ``/proc``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    rss = {"driver": 0, "jvm": 0, "workers": 0}
    todo = [root_pid]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/statm") as f:
                resident = int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
        kind = "driver" if pid == root_pid else "jvm" if comm == "java" else "workers"
        rss[kind] += resident
    return rss


def _group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop the child's whole process group (JVM and Python workers
    included) and wait until every member has ended."""
    deadline = time.time() + 15
    while _group_alive(proc.pid) and time.time() < deadline:
        time.sleep(0.1)
    if _group_alive(proc.pid):
        os.killpg(proc.pid, signal.SIGKILL)
        while _group_alive(proc.pid):
            time.sleep(0.1)


def run_child(mode: str, args, inputs: str, work: str, watch_rss: bool = False) -> dict:
    out = os.path.join(work, f"{mode}.json")
    log = os.path.join(work, f"{mode}.log")
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update({
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    cmd = [sys.executable, os.path.join(HERE, "child.py"), "--mode", mode,
           "--workload", args.workload, "--inputs", inputs, "--work", work,
           "--seconds", str(args.seconds), "--out", out]
    peak = {"total": 0}
    started = time.perf_counter()
    with open(log, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        stop = threading.Event()

        def watch():
            while not stop.is_set():
                rss = _proc_tree_rss(proc.pid)
                if sum(rss.values()) > peak["total"]:
                    peak.update(rss, total=sum(rss.values()))
                stop.wait(0.1)

        watcher = threading.Thread(target=watch, daemon=True)
        if watch_rss:
            watcher.start()
        try:
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop.set()
            if watch_rss:
                watcher.join()
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            _stop_group(proc)
    if code != 0 or not os.path.exists(out):
        with open(log) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"{mode} process failed (exit {code}):\n{tail}")
    with open(out) as f:
        result = json.load(f)
    result["peak_rss"] = peak
    result["process_s"] = time.perf_counter() - started
    return result


def summary(values: list[float]) -> str:
    """Sample count, median and the highest percentile with at least ten
    samples beyond it (the maximum when there are fewer than 20)."""
    n = len(values)
    ordered = sorted(values)
    if n >= 20:
        q = math.floor(100 * (n - 10) / n)
        hi = f"p{q}={ordered[math.ceil(q / 100 * n) - 1]:.4g}"
    else:
        hi = f"max={ordered[-1]:.4g}"
    return f"n={n} median={statistics.median(values):.4g} {hi}"


def end_to_end(args, inputs: str, work: str) -> dict:
    res = run_child("run", args, inputs, work, watch_rss=True)
    passes = [res["cold"], *res["warmup"], *res["measured"]]
    samples = {
        "setup_s": [res["setup_s"]],
        "first_pass_s": [res["cold"]["wall_s"]],
        "pages_per_s": [res["units"] / p["wall_s"] for p in res["measured"]],
        "pair_f1": [p["pair_f1"] for p in passes if "pair_f1" in p],
        "peak_rss_mb": [res["peak_rss"]["total"] / 1e6],
    }
    values = {
        "setup_s": res["setup_s"],
        "pages_per_s": statistics.median(samples["pages_per_s"]),
        "pair_f1": min(samples["pair_f1"], default=0.0),
    }
    print("env: " + json.dumps(res["env"]))
    for name, unit in {**END_TO_END, **REPORTED}.items():
        print(f"{name} [{unit}]: {summary(samples[name]) if samples[name] else 'n=0'}")
    return {"attempted": len(passes),
            "failed": sum(1 for p in passes if p["failures"]),
            "failures": [f for p in passes for f in p["failures"]],
            "metrics": {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()},
            "env": res["env"], "samples": samples, "peak_rss": res["peak_rss"],
            "passes": passes, "process_s": res["process_s"]}


def per_layer(args, inputs: str, work: str) -> dict:
    res = run_child("trace", args, inputs, work)
    print("env: " + json.dumps(res["env"]))
    for root, c in res["coverage"].items():
        print(f"{root}: wall {c['wall_s']:.3f} s, layers sum {c['layers_s']:.3f} s "
              f"({100 * c['layers_s'] / c['wall_s']:.1f}%)")
    for name, row in sorted(res["table"].items()):
        print(f"  {name:16s} wall {row['wall_s']:7.3f}  cpu {row['cpu_s']:7.3f}  "
              f"driver {row['driver_s']:6.3f}  jobs {row['jobs']:4d}  "
              f"shuffle {row['shuffle_mb']:8.3f} MB  rows {row['counts'].get('rows_out', 0)}")
    return {"attempted": res["passes"], "failed": res["failed"],
            "failures": res["failures"],
            "metrics": {k: {"value": v, "unit": layer_unit(k)} for k, v in res["metrics"].items()},
            "env": res["env"]}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {ROOT}; nothing to measure",
              file=sys.stderr)
        return 2
    state = os.path.join(ROOT, ".perfbench")
    inputs = gen.stage(args.workload, args.seed, os.path.join(state, "inputs"))
    work = os.path.join(state, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    results = os.path.join(state, "results")
    name = f"{args.workload}-{args.seed}-{args.trace}-{int(time.time())}"
    os.makedirs(work)
    os.makedirs(results, exist_ok=True)
    try:
        result = (per_layer if args.trace else end_to_end)(args, inputs, work)
        if os.path.exists(os.path.join(work, "spans.jsonl")):
            shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(results, name + ".spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for failure in result["failures"]:
        print("check failed: " + failure)
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "seconds": args.seconds, "time": time.time(), **result}
    with open(os.path.join(results, name + ".json"), "w") as f:
        json.dump(record, f)
    print(json.dumps({"correct": result["failed"] == 0, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": result["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
