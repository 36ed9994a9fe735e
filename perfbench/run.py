"""Benchmark runner: one workload, one seed, one result line.

    python3 perfbench/run.py --workload medallion_refresh --seed 1 --seconds 20 --trace 0

Run from the repository root. The runner

1. pins the host (``SPARK_GRAFT_CPUS`` = usable cores, a driver memory
   that fits the machine) and holds ``tools/benchlock.py``'s lock;
2. generates the workload's inputs from ``--seed`` and the expected
   outputs from an oracle that does not run the code under test;
3. starts ``worker.py`` (one Spark session) and measures ``--seconds``
   of passes; a worker that outlives its time is killed, and the
   operation it was in counts as failed;
4. prints one line per metric (value, unit, sample count) and, as the
   last line, ``{"correct", "attempted", "failed", "metrics"}``: the
   end-to-end metrics with ``--trace 0``, the per-layer ones with
   ``--trace 1``;
5. removes every directory it created and the lock file.

It exits 1 when an output check failed and 2 when it cannot run at all
(not at a repository root, unknown workload, lock held).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import (  # noqa: E402
    END_TO_END,
    MEDALLION_LAYERS,
    MEDALLION_RECORDS,
    QUERY_DOCS,
    QUERY_SF,
    REPORTED,
    WORKLOADS,
    per_layer_metrics,
)

WORKER_DEADLINE_S = 165.0


def _host() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal:")).split()[1])
    mem_gb = mem_kb / 1024 / 1024
    try:
        from importlib.metadata import version

        spark_version = version("pyspark")
    except Exception:  # noqa: BLE001 - recorded, not required
        spark_version = "unknown"
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(mem_gb, 1),
        "driver_mem": f"{max(1, min(2, int(mem_gb // 4)))}g",
        "python": platform.python_version(),
        "spark": spark_version,
        "machine": platform.machine(),
    }


def _cpu_seconds() -> dict[str, float]:
    """Host-wide busy and stolen CPU seconds so far (/proc/stat). Steal is
    time the hypervisor gave the vCPUs to other guests; it inflates wall
    times, so each result records how much of it the run saw."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    tick = os.sysconf("SC_CLK_TCK")
    user, nice, system, idle, iowait, irq, softirq, steal = fields[:8]
    return {"busy": (user + nice + system + irq + softirq) / tick, "steal": steal / tick}


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def _stop_group(proc: subprocess.Popen, grace_s: float = 15.0) -> None:
    """Wait for the worker's whole process group (the JVM included) to end,
    killing it after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while _group_alive(proc.pid) and time.monotonic() < deadline:
        time.sleep(0.1)
    if _group_alive(proc.pid):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        while _group_alive(proc.pid):
            time.sleep(0.1)


def _run_worker(cmd: list[str], env: dict, cwd: str, timeout_s: float, log_path: str) -> str | None:
    """Run one worker; returns None, or why it did not finish."""
    with open(log_path, "ab") as log:
        proc = subprocess.Popen(cmd, env=env, cwd=cwd, stdout=log, stderr=log, start_new_session=True)
        try:
            code = proc.wait(timeout=max(timeout_s, 1.0))
            reason = None if code == 0 else f"worker exited with code {code}"
        except subprocess.TimeoutExpired:
            reason = f"worker timed out after {timeout_s:.0f} s"
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            _stop_group(proc)
    return reason


def _tally(ops: list[dict], problem: str | None) -> tuple[int, int]:
    """(attempted, failed): an operation fails on an exception or a wrong
    output; a worker that crashed or timed out fails the one it was in."""
    extra = 1 if problem else 0
    return len(ops) + extra, sum(not r["ok"] for r in ops) + extra


def _per_layer(records: list[dict], cores: int, workload: str) -> dict[str, float]:
    """Per-layer values: medians over the traced passes; 0 for a layer the
    workload does not call."""
    out = {name: 0.0 for name in per_layer_metrics()}

    def put(name: str, values: list[float]) -> None:
        if name not in out:
            raise KeyError(f"per-layer metric {name} is not declared in workloads.py")
        out[name] = _median(values)

    layers = [r for r in records if r["kind"] == "layers"]
    stages = [s for r in layers for s in r["stages"]]
    for stage in {s["name"] for s in stages}:
        mine = [s for s in stages if s["name"] == stage]
        put(f"plans.pipeline.{stage}.wall_s", [s["wall_s"] for s in mine])
        put(f"plans.pipeline.{stage}.files_written", [s["files_written"] for s in mine])
        for c in ("jobs", "tasks", "exec_s", "shuffle_write_mb", "output_mb"):
            put(f"plans.pipeline.{stage}.{c}", [s["counts"][c] for s in mine])
    for r in layers:
        sizes = r["layers"]
        for layer in MEDALLION_LAYERS:
            put(f"sinks.writers.{layer}.mb", [sizes[layer]["bytes"] / 2**20])
            put(f"sinks.writers.{layer}.files", [sizes[layer]["files"]])
        stored = sum(sizes[k]["bytes"] for k in MEDALLION_LAYERS)
        put("sinks.writers.medallion.stored_bytes_ratio", [stored / sizes["landing"]["bytes"]])
    for r in records:
        for name, value in r.get("probes", {}).items():
            put(name, [value])

    traced_ops = [r for r in records if r["kind"] == "op" and "build" in r]
    for name, module in WORKLOADS[workload].get("queries", {}).items():
        ops = [r for r in traced_ops if r["name"] == name]
        if not ops:
            continue
        both = [{k: r["build"][k] + r["action"][k] for k in r["build"]} for r in ops]
        walls = [r["build_s"] + r["action_s"] for r in ops]
        values = {
            "build_s": [r["build_s"] for r in ops],
            "action_s": [r["action_s"] for r in ops],
            "build_jobs": [r["build"]["jobs"] for r in ops],
            "action_jobs": [r["action"]["jobs"] for r in ops],
            "tasks": [b["tasks"] for b in both],
            "exec_s": [b["exec_s"] for b in both],
            "shuffle_write_mb": [b["shuffle_write_mb"] for b in both],
            "parallelism": [b["exec_s"] / (w * cores) for b, w in zip(both, walls)],
        }
        for c, v in values.items():
            put(f"{module}.{name}.{c}", v)
    by_pass: dict[int, int] = {}
    for r in traced_ops:
        by_pass[r["pass"]] = by_pass.get(r["pass"], 0) + r["rows"]
    put("session.driver.collected_rows", list(by_pass.values()))
    out["session.driver.cached_rdds"] = float(max((r.get("cached_rdds", 0) for r in records if r["kind"] == "op"),
                                                  default=0))
    put("session.get_spark.wall_s", [r["get_spark_s"] for r in records if r["kind"] == "setup"])
    put("session.cold_pass.wall_s", [r["wall_s"] for r in records if r["kind"] == "pass" and r["phase"] == "cold"])
    put("session.driver.peak_rss_mb", [r["peak_rss_mb"] for r in records if r["kind"] == "rss"])
    warm = [r for r in records if r["kind"] == "pass" and r["phase"] == "warm"]
    traced = [r["wall_s"] for r in warm if r["traced"]]
    untraced = [r["wall_s"] for r in warm if not r["traced"]]
    if traced and untraced:
        out["trace.overhead_s"] = _median(traced) - _median(untraced)
    return out


def _generate(workload: str, seed: int, trace: int, work: str, root_dir: str, data_dir: str) -> dict:
    """Inputs and expected outputs, before any timing."""
    import generate

    t = time.monotonic()
    info: dict = {"workload": workload, "seed": seed}
    expected: dict = {}
    if workload == "medallion_refresh":
        landing = generate.write_landing(os.path.join(root_dir, "landing"), seed, MEDALLION_RECORDS)
        info["landing"] = {"files": landing["files"], "bytes": landing["bytes"],
                           "records": len(landing["records"])}
        expected = generate.expected_medallion(landing["records"])
    queries = WORKLOADS[workload].get("queries")
    if queries or trace:
        # every traced run ends with layer probes over these tables
        tables = generate.write_query_tables(data_dir, seed, QUERY_SF, QUERY_DOCS)
        info["tables"] = tables | {"sf": QUERY_SF}
    if queries:
        from check import expected_queries

        expected = expected_queries(data_dir, sorted(queries))
    expected_path = os.path.join(work, "expected.json")
    with open(expected_path, "w") as fh:
        json.dump(expected, fh)
    info["generate_s"] = time.monotonic() - t
    info["expected"] = expected_path
    return info


def _read_records(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    t_start = time.monotonic()
    # a terminated run still stops its worker and removes what it created
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    repo = os.getcwd()
    if not (os.path.isdir(os.path.join(repo, "breweries_etl_spark"))
            and os.path.isfile(os.path.join(repo, "__spark_entry__.py"))):
        print(f"run.py: {repo} is not the repository root (no breweries_etl_spark/)", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"run.py: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    sys.path.insert(0, repo)
    sys.path.insert(0, os.path.join(repo, "tools"))
    import benchlock

    host = _host()
    benchlock.acquire_or_die("perfbench")
    out_dir = os.path.join(repo, ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    try:
        root_dir = os.path.join(work, "medallion")
        data_dir = os.path.join(work, "tables")
        tmp = os.path.join(work, "tmp")
        for d in (root_dir, data_dir, tmp):
            os.makedirs(d)
        inputs = _generate(args.workload, args.seed, args.trace, work, root_dir, data_dir)

        env = dict(os.environ)
        env.update({
            "SPARK_GRAFT_CPUS": str(host["nproc"]),
            "SPARK_GRAFT_DRIVER_MEM": host["driver_mem"],
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "SPARK_SUBMIT_OPTS": f"-Djava.io.tmpdir={tmp}",
            "TMPDIR": tmp,
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONDONTWRITEBYTECODE": "1",
            "MALLOC_ARENA_MAX": "2",
        })
        records_path = os.path.join(work, "records.jsonl")
        cmd = [
            sys.executable, os.path.join(HERE, "worker.py"),
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--repo", repo, "--root-dir", root_dir, "--data", data_dir,
            "--expected", inputs["expected"], "--out", records_path,
        ]
        cpu0 = _cpu_seconds()
        t0 = time.monotonic()
        problem = _run_worker(cmd + ["--t0", repr(t0)], env, work, WORKER_DEADLINE_S - (t0 - t_start),
                              os.path.join(work, "worker.log"))
        cpu1 = _cpu_seconds()
        host["worker_wall_s"] = time.monotonic() - t0
        host["worker_cpu_busy_s"] = cpu1["busy"] - cpu0["busy"]
        host["worker_cpu_steal_s"] = cpu1["steal"] - cpu0["steal"]
        records = _read_records(records_path)
        if problem:
            with open(os.path.join(work, "worker.log"), errors="replace") as fh:
                sys.stderr.write(fh.read()[-4000:])
            print(f"run.py: {problem}", file=sys.stderr)

        ops = [r for r in records if r["kind"] == "op"]
        attempted, failed = _tally(ops, problem)
        for r in ops:
            if not r["ok"]:
                print(f"run.py: FAILED {r['name']} (pass {r['pass']}): {r['err']}", file=sys.stderr)
        cold = [r for r in records if r["kind"] == "pass" and r["phase"] == "cold"]
        warm = [r for r in records if r["kind"] == "pass" and r["phase"] == "warm" and not r["traced"]]
        samples = {
            "setup_s": [r["setup_s"] for r in records if r["kind"] == "setup"],
            "cold_cpu_s": [r["cpu_s"] for r in cold],
            "warm_s": [r["wall_s"] for r in warm],
            "warm_cpu_s": [r["cpu_s"] for r in warm],
            "cold_s": [r["wall_s"] for r in cold],
            "peak_rss_mb": [r["peak_rss_mb"] for r in records if r["kind"] == "rss"],
        }
        correct = failed == 0 and all(samples.values())
        print(f"host: {json.dumps(host)}")
        print(f"inputs: {json.dumps({k: v for k, v in inputs.items() if k != 'expected'})}")
        if args.trace:
            units = per_layer_metrics()
            metrics = {name: {"value": value, "unit": units[name]}
                       for name, value in _per_layer(records, host["nproc"], args.workload).items()}
        else:
            metrics = {name: {"value": _median(samples[name]), "unit": unit} for name, unit in END_TO_END.items()}
        for name, m in metrics.items():
            n = f" (n={len(samples[name])})" if name in samples else ""
            print(f"metric {name} = {m['value']:.6g} {m['unit']}{n}")
        for name, unit in REPORTED.items():
            print(f"reported {name} = {_median(samples[name]):.6g} {unit} (n={len(samples[name])})")
        for r in records:
            if r["kind"] == "stored":
                print(f"reported stored_bytes_ratio = {r['stored_bytes_ratio']:.6g} ratio (n=1)")
        print(f"ops: attempted={attempted} failed={failed} failed_ratio={failed / max(attempted, 1):.4f}")
        artifact = {"host": host, "inputs": inputs, "args": vars(args), "samples": samples,
                    "metrics": metrics, "records": records}
        with open(os.path.join(out_dir, f"result-{args.workload}-trace{args.trace}.json"), "w") as fh:
            json.dump(artifact, fh, indent=1)
        print(json.dumps({"correct": correct, "attempted": max(attempted, 1), "failed": failed,
                          "metrics": metrics}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.unlink(benchlock.LOCK_PATH)
        except FileNotFoundError:
            pass


if __name__ == "__main__":
    raise SystemExit(main())
