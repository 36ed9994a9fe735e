"""One benchmark session: start Spark, run a workload's passes, record.

Started by ``run.py`` as a child process, one Spark session per process.
Every record is appended as one JSON line to ``--out`` as soon as it
exists, so a crash or a timeout keeps what was measured before it.

Pass 0 is the cold pass, then come the workload's unreported warm-up
passes, then warm passes until ``--seconds`` of measurement are used.
With ``--trace 1`` warm passes alternate untraced and traced, so one run
gives both per-layer counts and the tracing overhead (traced minus
untraced pass wall). After the traced medallion
pass, and at the end of every traced run, isolation probes time single
layers.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import time


def _emit(fh, **record) -> None:
    fh.write(json.dumps(record) + "\n")
    fh.flush()


def _descendants(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, reaped children included) used so far by
    ``root_pid`` and its descendants. Time the hypervisor steals from the
    vCPUs is not in it."""
    ticks = 0
    for pid in _descendants(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def _tree_peak_rss_mb(root_pid: int) -> dict[str, float]:
    """High-water RSS (VmHWM) of ``root_pid`` and each descendant, by
    ``<command>-<pid>``."""
    peaks = {}
    for pid in _descendants(root_pid):
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh)
        except OSError:
            continue
        if "VmHWM" in fields:
            peaks[f"{fields['Name'].strip()}-{pid}"] = int(fields["VmHWM"].split()[0]) / 1024.0
    return peaks


def _data_files(path: str) -> tuple[int, int]:
    n = size = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


class Medallion:
    """Full refresh through ``plans.pipeline`` from an empty medallion root
    (``landing`` excepted) on every pass."""

    def __init__(self, spark, args, out, tracer) -> None:
        from breweries_etl_spark.config import MedallionPaths

        self.spark, self.out, self.tracer = spark, out, tracer
        self.paths = MedallionPaths(args.root_dir)
        with open(args.expected) as fh:
            self.expected = json.load(fh)

    def _reset(self) -> None:
        for layer in (self.paths.bronze, self.paths.silver, self.paths.gold, self.paths.quarantine):
            shutil.rmtree(layer, ignore_errors=True)

    def run_pass(self, pass_no: int, traced: bool) -> tuple[float, float]:
        from breweries_etl_spark.plans import pipeline
        from breweries_etl_spark.plans.metrics import MetricsRegistry
        from check import check_medallion

        self._reset()
        metrics = MetricsRegistry()
        err = None
        stages = []
        start, cpu = time.monotonic(), _tree_cpu_s(os.getpid())
        try:
            for stage in (pipeline.landing_to_bronze, pipeline.bronze_to_silver, pipeline.silver_to_gold):
                if traced:
                    with self.tracer.span(f"plans.pipeline.{stage.__name__}") as sp:
                        stage(self.spark, self.paths, metrics)
                    stages.append({"name": stage.__name__, "wall_s": sp.end - sp.start, "counts": sp.counts})
                else:
                    stage(self.spark, self.paths, metrics)
        except Exception as exc:  # noqa: BLE001 - a failed refresh is a failed operation
            err = f"{type(exc).__name__}: {exc}"[:500]
        wall, cpu = time.monotonic() - start, _tree_cpu_s(os.getpid()) - cpu
        if err is None:
            err = check_medallion(self.paths, self.expected)
        _emit(self.out, kind="op", name="refresh", ok=err is None, err=err, **{"pass": pass_no})
        if traced and err is None:
            self._trace_layers(metrics, stages)
        return wall, cpu

    def stored_bytes_ratio(self) -> float:
        """Bytes in bronze + silver + gold + quarantine ÷ landing bytes."""
        stored = sum(_data_files(getattr(self.paths, layer))[1]
                     for layer in ("bronze", "silver", "gold", "quarantine"))
        return stored / _data_files(self.paths.landing)[1]

    def _trace_layers(self, metrics, stages) -> None:
        from breweries_etl_spark.operators.standardize import silver_transform
        from breweries_etl_spark.sinks.writers import write_partitioned
        from breweries_etl_spark.sources.json_source import read_landing_json
        from breweries_etl_spark.sources.tables import read_layer

        layers = {}
        for layer in ("landing", "bronze", "silver", "gold", "quarantine"):
            layers[layer] = _data_files(getattr(self.paths, layer))
        written = {"landing_to_bronze": ["bronze"], "bronze_to_silver": ["silver", "quarantine"],
                   "silver_to_gold": ["gold"]}
        for st in stages:
            st["files_written"] = sum(layers[layer][0] for layer in written[st["name"]])
        with self.tracer.span("plans.metrics.MetricsRegistry.exposition"):
            metrics.exposition()
        probes = {}
        spark, paths = self.spark, self.paths
        with self.tracer.span("sources.json_source.read_landing_json") as sp:
            read_landing_json(spark, paths.landing).write.format("noop").mode("overwrite").save()
        probes["sources.json_source.read_landing_json.wall_s"] = sp.end - sp.start
        bronze = read_layer(spark, paths.bronze)
        with self.tracer.span("operators.standardize.silver_transform") as sp:
            silver_transform(bronze).write.format("noop").mode("overwrite").save()
        probes["operators.standardize.silver_transform.wall_s"] = sp.end - sp.start
        cached = silver_transform(bronze).persist()
        cached.count()
        probe_dir = os.path.join(paths.root, "probe_silver")
        try:
            with self.tracer.span("sinks.writers.write_partitioned") as sp:
                write_partitioned(cached, probe_dir, ["location"])
            probes["sinks.writers.write_partitioned.wall_s"] = sp.end - sp.start
        finally:
            cached.unpersist()
            shutil.rmtree(probe_dir, ignore_errors=True)
        _emit(self.out, kind="layers", stages=stages, probes=probes,
              layers={k: {"files": n, "bytes": b} for k, (n, b) in layers.items()})


class Queries:
    """Registry queries in a seeded order per pass; each is one operation:
    build (the query function) then action (``collect``)."""

    def __init__(self, spark, args, out, tracer) -> None:
        import __spark_entry__ as entry
        from workloads import WORKLOADS

        self.spark, self.out, self.tracer = spark, out, tracer
        self.queries = WORKLOADS[args.workload]["queries"]
        self.registry = entry.queries()
        self.data = args.data
        self.seed = args.seed
        with open(args.expected) as fh:
            self.expected = json.load(fh)

    def run_pass(self, pass_no: int, traced: bool) -> tuple[float, float]:
        from check import compare_query

        names = sorted(self.queries)
        random.Random(self.seed * 1000 + pass_no).shuffle(names)
        jsc = self.spark.sparkContext._jsc  # noqa: SLF001 - persistent-RDD count
        start, cpu = time.monotonic(), _tree_cpu_s(os.getpid())
        check_s = check_cpu = 0.0  # output checks are not part of the pass
        for name in names:
            fn = self.registry[name]
            rec = {"name": name, "pass": pass_no, "ok": False, "err": None}
            try:
                if traced:
                    with self.tracer.span(f"{self.queries[name]}.{name}"):
                        with self.tracer.span(f"{self.queries[name]}.{name}.build") as b:
                            df = fn(self.spark, self.data)
                        with self.tracer.span(f"{self.queries[name]}.{name}.action") as a:
                            rows = df.collect()
                    rec.update(build_s=b.end - b.start, action_s=a.end - a.start,
                               build=b.counts, action=a.counts)
                else:
                    t0 = time.monotonic()
                    df = fn(self.spark, self.data)
                    t1 = time.monotonic()
                    rows = df.collect()
                    rec.update(build_s=t1 - t0, action_s=time.monotonic() - t1)
                rec["rows"] = len(rows)
                rec["cached_rdds"] = jsc.getPersistentRDDs().size()
                t_check, c_check = time.monotonic(), _tree_cpu_s(os.getpid())
                rec["err"] = compare_query(self.expected[name], df.columns, df.dtypes, rows)
                check_cpu += _tree_cpu_s(os.getpid()) - c_check
                check_s += time.monotonic() - t_check
                rec["ok"] = rec["err"] is None
            except Exception as exc:  # noqa: BLE001 - a failed query is a failed operation
                rec["err"] = f"{type(exc).__name__}: {exc}"[:500]
            _emit(self.out, kind="op", **rec)
        return time.monotonic() - start - check_s, _tree_cpu_s(os.getpid()) - cpu - check_cpu


def _probe_layers(spark, data: str, tracer, out) -> dict:
    """Spans for layers no pass calls directly, outside every pass. The
    near-duplicate probe's output is checked like an operation."""
    import pyarrow.parquet as pq

    import __spark_entry__ as entry
    from breweries_etl_spark.functions import exact
    from breweries_etl_spark.functions.synthetic import brewery_raw
    from breweries_etl_spark.plans import analytics
    from breweries_etl_spark.sources.tables import load_table
    from check import compare_near_duplicates

    probes = {}
    with tracer.span("sources.tables.load_table") as sp:
        load_table(spark, data, "lineitem").write.format("noop").mode("overwrite").save()
    probes["sources.tables.load_table.wall_s"] = sp.end - sp.start
    with tracer.span("functions.synthetic.brewery_raw") as sp:
        brewery_raw(spark, data).write.format("noop").mode("overwrite").save()
    probes["functions.synthetic.brewery_raw.wall_s"] = sp.end - sp.start
    with tracer.span("functions.exact.sum_money") as sp:
        load_table(spark, data, "lineitem").agg(exact.sum_money("l_extendedprice", "s")).collect()
    probes["functions.exact.sum_money.wall_s"] = sp.end - sp.start
    for name, module, call in (
        ("tpch_q5", "plans.analytics", analytics.tpch_q5),
        ("dedup_minhash_pairs", "operators.dedup", entry.queries()["dedup_minhash_pairs"]),
    ):
        with tracer.span(f"{module}.{name}") as sp:
            rows = call(spark, data).collect()
        probes[f"{module}.{name}.wall_s"] = sp.end - sp.start
        probes[f"{module}.{name}.jobs"] = sp.counts["jobs"]
    texts = pq.read_table(os.path.join(data, "documents.parquet")).column("text").to_pylist()
    err = compare_near_duplicates(texts, [tuple(r) for r in rows])
    _emit(out, kind="op", name="probe.dedup_minhash_pairs", ok=err is None, err=err, **{"pass": -1})
    return probes


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--t0", type=float, required=True, help="monotonic clock when the process was started")
    p.add_argument("--repo", required=True)
    p.add_argument("--root-dir", required=True, help="medallion root (landing already written)")
    p.add_argument("--data", required=True, help="directory of generated query tables")
    p.add_argument("--expected", required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)

    sys.path.insert(0, args.repo)
    from breweries_etl_spark.session import get_spark

    from runrecord import StatusStore, Tracer
    from workloads import WORKLOADS

    import __spark_entry__  # noqa: F401 - part of set-up: the registry is imported once

    tracer = Tracer(f"{args.workload}-{args.seed}")
    with tracer.span("session.get_spark") as sp:
        spark = get_spark("perfbench")
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    spark.range(0, 100_000, numPartitions=cpus).selectExpr("id % 97 AS k").groupBy("k").count().collect()
    setup_s = time.monotonic() - args.t0
    if args.trace:
        tracer.store = StatusStore(spark)

    with open(args.out, "a", buffering=1) as out:
        _emit(out, kind="setup", setup_s=setup_s, get_spark_s=sp.end - sp.start)
        workload = (Medallion if args.workload == "medallion_refresh" else Queries)(spark, args, out, tracer)
        spec = WORKLOADS[args.workload]
        start = time.monotonic()
        pass_no = 0
        have = {"untraced": 0, "traced": 0}
        while True:
            warm_no = pass_no - 1 - spec["warmup"]
            phase = "cold" if pass_no == 0 else "warmup" if warm_no < 0 else "warm"
            traced = bool(args.trace) and warm_no >= 0 and warm_no % 2 == 1
            wall, cpu = workload.run_pass(pass_no, traced)
            _emit(out, kind="pass", wall_s=wall, cpu_s=cpu, phase=phase, traced=traced, **{"pass": pass_no})
            if phase == "warm":
                have["traced" if traced else "untraced"] += 1
            pass_no += 1
            if args.trace:
                # untraced passes on both sides of the traced one, so the
                # overhead estimate is not confounded by warm-up
                enough = have["untraced"] >= 2 and have["traced"] >= 1
            else:
                enough = have["untraced"] >= spec["min_warm"]
            if enough and time.monotonic() - start >= args.seconds:
                break
        if isinstance(workload, Medallion):
            _emit(out, kind="stored", stored_bytes_ratio=workload.stored_bytes_ratio())
        if args.trace:
            probes = _probe_layers(spark, args.data, tracer, out)
            _emit(out, kind="probes", probes=probes)
            _emit(out, kind="spans", spans=tracer.records())
        peaks = _tree_peak_rss_mb(os.getpid())
        _emit(out, kind="rss", peak_rss_mb=sum(peaks.values()), processes=peaks)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
