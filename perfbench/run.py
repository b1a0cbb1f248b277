"""Benchmark runner: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload tpch_mix --seed 1 --seconds 20 \
        --trace 0

Run from the root of a checkout.  Workloads: ``tpch_mix``,
``index_refresh`` (the two ``BENCHMARK.json`` gates) and
``corpus_clean``.  Set-up (session start, input generation, persisted
state, two untimed rounds of every op type) is timed as ``setup_s``.
The timed loop then runs whole rounds of ops, one at a time, until
``--seconds`` have passed, at least three rounds ran and at least
eleven ops are timed untraced; after it, the last result of every op
type is checked against a DuckDB oracle.
A failed op or a failed check counts in ``failed_ratio``, printed
here; ``BENCHMARK.json`` records ``ok_ratio``, its complement, because
a recorded metric must never read 0.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` traces every
other round (spans at each layer boundary, status-store and ``/proc``
deltas per op), runs the once-per-run layer probes, and prints the
per-layer metrics.  Human-readable lines come first; the last line of
standard output is one JSON object.  Everything the run writes goes to
a temporary directory under ``perfbench/.work`` that is removed at exit;
traced runs also leave their spans in ``perfbench/out``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import observe
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
NPROC = len(os.sched_getaffinity(0))
# local[N] and the JVM heap stay small enough to share the machine
MAX_CPUS = 4
# untimed rounds in set-up: the first runs every op type cold (2-7x its
# steady latency); after only one, the first timed round still ran q01
# up to twice as slow as the rounds after it on four seeds in five
# (tpch_mix, local[4])
WARMUP_ROUNDS = 2
# timed rounds at least: three samples of every op type, and a fixed
# count while rounds take longer than a third of --seconds, so a few
# percent of host noise cannot flip a run between two and three rounds
MIN_ROUNDS = 3
HEAP_FRACTION = 0.25

E2E_UNITS = {
    "setup_s": "s", "latency_p50_s": "s", "latency_tail_s": "s",
    "ops_per_s": "1/s", "input_rows_per_s": "rows/s", "read_p50_s": "s",
    "write_p50_s": "s", "space_amp": "ratio", "peak_rss_mb": "MiB",
    "ok_ratio": "ratio", "failed_ratio": "ratio",
}
LAYER_UNITS = {
    "session.start_s": "s", "sources.scan_s": "s",
    "sources.rows_read": "rows", "sources.mb_read": "MiB",
    "plans.build_s": "s", "plans.optimize_s": "s",
    "plans.exchanges": "count", "plans.jobs": "count",
    "plans.tasks": "count", "exec.run_s": "s", "exec.cpu_s": "s",
    "exec.gc_s": "s", "exec.shuffle_write_mb": "MiB",
    "exec.shuffle_read_mb": "MiB", "exec.fetch_wait_s": "s",
    "exec.spill_mb": "MiB", "exec.failed_tasks": "count",
    "exec.cpu_util": "ratio", "operators.join_s": "s",
    "operators.groupby_s": "s", "operators.sort_s": "s",
    "pipeline.minhash_s": "s", "pipeline.clean_corpus_s": "s",
    "pipeline.python_cpu_s": "s", "core.insert_s": "s", "core.serve_s": "s",
    "core.files_written": "count", "core.mb_written": "MiB",
    "core.files_per_bucket": "count", "core.caches_released": "count",
    "core.cache_mb": "MiB", "trace.overhead_s": "s",
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    p.add_argument("--corrupt", action="store_true",
                   help="alter every checked result before checking "
                        "(the smoke test's proof that checks bite)")
    return p.parse_args(argv)


def _box() -> tuple[int, str]:
    """Cores and JVM heap that fit the machine the run is on."""
    cpus = min(NPROC, MAX_CPUS)
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mem_mb = int(min(ram * HEAP_FRACTION, 1.5 * 2**30) // 2**20)
    return cpus, f"{mem_mb}m"


def _start_session(work: str, cpus: int, mem: str):
    from legate_dataframe_spark.session import get_session

    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = mem
    return get_session(
        app_name="perfbench", master=f"local[{cpus}]",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work}/jvm -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        })


def _stop_session(spark) -> None:
    """Stop Spark, end the Spark JVM, and wait for every process this
    run started to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    except Exception:  # the JVM may be gone already; clean up regardless
        traceback.print_exc()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while (left := observe.descendants(os.getpid())):
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
        time.sleep(0.1)


def _tail(lat: list[float]) -> tuple[float, int]:
    """The highest percentile with at least ten samples beyond it:
    the 11th-largest sample, and its percentile rank."""
    s = sorted(lat)
    if len(s) <= 10:
        return s[-1], 100
    i = len(s) - 11
    return s[i], int(100 * (i + 1) / len(s))


class Loop:
    """The timed closed loop and, when traced, the per-op deltas."""

    def __init__(self, w, tracer, traced: bool) -> None:
        self.w, self.tracer, self.traced = w, tracer, traced
        self.store = observe.StatusStore(w.spark) if traced else None
        self.ops: list[dict] = []
        self.failed = 0

    def run_op(self, name: str, op_id: int, traced: bool) -> dict | None:
        from legate_dataframe_spark.core.caching import release_caches

        w, tr = self.w, self.tracer
        op = w.op(name)
        wh_before = _files(w.ctx.warehouse) if traced else {}
        py_before = (observe.python_worker_cpu_s(os.getpid())
                     if traced else 0.0)
        if traced:
            self.store.delta()
        rec = {"name": name, "kind": op.kind, "rows": op.rows,
               "traced": traced}
        tr.enabled = traced
        try:
            with tr.span("op", op_id) as s_op:
                with tr.span("plans.build", op_id) as s:
                    df = op.build()
                rec["plans.build_s"] = s.seconds
                if traced and op.kind == "read":
                    with tr.span("plans.optimize", op_id) as s:
                        plan = df._jdf.queryExecution().executedPlan()
                    rec["plans.optimize_s"] = s.seconds
                    rec["plans.exchanges"] = sum(
                        "Exchange" in ln
                        for ln in plan.toString().splitlines())
                with tr.span("exec", op_id):
                    w.last[name] = op.run(df)
                with tr.span("core.release", op_id):
                    rec["core.caches_released"] = release_caches()
        except Exception:  # counted, reported, and the loop goes on
            print(f"op {op_id} {name} failed:", file=sys.stderr)
            traceback.print_exc()
            self.failed += 1
            release_caches()
            return None
        finally:
            tr.enabled = False
        rec["latency_s"] = s_op.seconds
        if traced:
            d = self.store.delta()
            for k, v in d.items():
                rec[("plans." if k in ("jobs", "tasks") else
                     "sources." if k in ("rows_read", "mb_read") else
                     "exec.") + k] = v
            rec["exec.cpu_util"] = d["cpu_s"] / (s_op.seconds
                                                 * w.ctx.cpus)
            rec["core.cache_mb"] = self.store.cache_mb()
            rec["pipeline.python_cpu_s"] = (
                observe.python_worker_cpu_s(os.getpid()) - py_before)
            if op.kind == "write":
                new = {p: b for p, b in _files(w.ctx.warehouse).items()
                       if p not in wh_before}
                rec["core.files_written"] = sum(p.endswith(".parquet")
                                                for p in new)
                rec["core.mb_written"] = sum(new.values()) / 2**20
        self.ops.append(rec)
        return rec

    def run(self, rounds, seconds: float) -> float:
        """Whole rounds until ``seconds`` have passed, at least
        MIN_ROUNDS of them, and the untraced ops number enough for a
        tail percentile."""
        t0 = time.perf_counter()
        op_id = 0
        for r, names in enumerate(rounds):
            untraced = sum(not o["traced"] for o in self.ops)
            if (time.perf_counter() - t0 >= seconds and untraced > 10
                    and r >= MIN_ROUNDS):
                break
            for name in names:
                self.run_op(name, op_id, self.traced and r % 2 == 1)
                op_id += 1
        return time.perf_counter() - t0


def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def _median_time(fn, reps: int = 3) -> float:
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def layer_probes(w) -> dict[str, float]:
    """Once-per-run timings of single layers, outside the timed loop."""
    from legate_dataframe_spark.core.caching import release_caches
    from legate_dataframe_spark.operators import (
        groupby_aggregation,
        join,
        sort,
    )
    from legate_dataframe_spark.pipeline import dedup
    from legate_dataframe_spark.plans.registry import load_table
    from legate_dataframe_spark.sources.parquet import parquet_read

    spark, out = w.spark, {}
    out["sources.scan_s"] = _median_time(lambda: [
        _noop(load_table(spark, w.dir, t)) for t in w.scan_tables])

    fact, dim, fk, dk, keys, val = w.operator_inputs()
    fact = fact.localCheckpoint(eager=True)
    dim = dim.localCheckpoint(eager=True)
    out["operators.join_s"] = _median_time(
        lambda: _noop(join(fact, dim, [fk], [dk])))
    out["operators.groupby_s"] = _median_time(lambda: _noop(
        groupby_aggregation(fact, keys, [(val, "sum", "total"),
                                         (val, "count", "n")])))
    out["operators.sort_s"] = _median_time(
        lambda: _noop(sort(fact, [val])))

    docs = parquet_read(spark, w.docs_path()).localCheckpoint(eager=True)
    py0 = observe.python_worker_cpu_s(os.getpid())
    t = time.perf_counter()
    _noop(dedup.minhash_lsh_pairs(docs))
    release_caches()
    out["pipeline.minhash_s"] = time.perf_counter() - t
    t = time.perf_counter()
    _noop(dedup.clean_corpus(docs.filter("doc_id % 10 != 7"),
                             docs.filter("doc_id % 10 = 7"), k=8))
    release_caches()
    out["pipeline.clean_corpus_s"] = time.perf_counter() - t
    out["pipeline.python_cpu_s"] = (observe.python_worker_cpu_s(os.getpid())
                                    - py0)
    out["core.files_per_bucket"] = w.files_per_bucket()
    return out


def _stat(fn, ops: list[dict], key: str, **match) -> float | None:
    """``fn`` over ``key`` of the op records whose fields equal
    ``match``; None when there are none."""
    vals = [o[key] for o in ops
            if key in o and all(o.get(k) == v for k, v in match.items())]
    return fn(vals) if vals else None


def _corrupt(last: dict) -> None:
    """Drop the first row of every collected result."""
    import pandas as pd

    for name, got in last.items():
        if isinstance(got, pd.DataFrame):
            last[name] = got.iloc[1:]


def _terminate(*_) -> None:
    """A terminated run still stops Spark and removes its directory;
    a second signal must not cut that clean-up short."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    sys.exit(143)


def main(argv=None) -> int:
    args = _parse(argv)
    signal.signal(signal.SIGTERM, _terminate)
    t_setup = time.perf_counter()
    if not os.path.isdir(os.path.join(CHECKOUT, "legate_dataframe_spark")):
        print(f"no legate_dataframe_spark package under {CHECKOUT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, CHECKOUT)
    cpus, mem = _box()
    work = os.path.join(HERE, ".work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("jvm", "local", "warehouse", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the short-lived JVM that spark-submit starts to build its command
    os.environ["SPARK_LAUNCHER_OPTS"] = (f"-XX:-UsePerfData "
                                         f"-Djava.io.tmpdir={work}/jvm")
    tempfile.tempdir = os.environ["TMPDIR"]

    spark = None
    try:
        t = time.perf_counter()
        spark = _start_session(work, cpus, mem)
        session_s = time.perf_counter() - t
        ctx = workloads.Ctx(spark, work, os.path.join(work, "warehouse"),
                            args.seed, workloads.SIZES[args.size], cpus,
                            NPROC)
        w = workloads.WORKLOADS[args.workload](ctx)
        phases = {"session_start_s": session_s}
        t = time.perf_counter()
        w.generate()
        phases["generate_s"] = time.perf_counter() - t
        t = time.perf_counter()
        w.prepare()
        phases["prepare_s"] = time.perf_counter() - t
        tracer = observe.Tracer(False)
        loop = Loop(w, tracer, args.trace == 1)
        rounds = w.rounds()
        for i in range(WARMUP_ROUNDS):
            t = time.perf_counter()
            for name in next(rounds):
                loop.run_op(name, -1, False)
            phases[f"warmup{i + 1}_s"] = time.perf_counter() - t
        warm_attempted = len(loop.ops) + loop.failed
        warm_failed, loop.ops, loop.failed = loop.failed, [], 0
        setup_s = time.perf_counter() - t_setup

        steal0 = observe.steal_s()
        wall = loop.run(rounds, args.seconds)
        steal = observe.steal_s() - steal0
        rss = observe.peak_rss(os.getpid())
        t = time.perf_counter()

        if args.corrupt:
            _corrupt(w.last)
        issues = {k: v for k, v in w.check().items() if v}
        check_s = time.perf_counter() - t
        for name, msgs in issues.items():
            print(f"CHECK FAILED {name}: {'; '.join(msgs)}", file=sys.stderr)
        probes = layer_probes(w) if args.trace else {}
        space_amp = w.warehouse_bytes() / w.ingested
    finally:
        try:
            if spark is not None:
                _stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:  # another run is using it
                pass

    ops = loop.ops
    attempted = len(ops) + loop.failed + warm_attempted
    failed = loop.failed + warm_failed + len(issues)
    untraced = [o for o in ops if not o["traced"]]
    lat = [o["latency_s"] for o in untraced]
    tail, tail_pct = _tail(lat)
    e2e = {
        "setup_s": setup_s,
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": tail,
        "ops_per_s": len(ops) / wall,
        "input_rows_per_s": sum(o["rows"] for o in ops) / wall,
        "read_p50_s": _stat(statistics.median, untraced, "latency_s",
                            kind="read"),
        "write_p50_s": _stat(statistics.median, untraced, "latency_s",
                             kind="write"),
        "space_amp": space_amp,
        "peak_rss_mb": sum(rss.values()) / 2**20,
        "ok_ratio": 1 - failed / max(attempted, 1),
        "failed_ratio": failed / max(attempted, 1),
    }
    counts = {
        "latency_p50_s": len(lat), "latency_tail_s": len(lat),
        "read_p50_s": sum(o["kind"] == "read" for o in untraced),
        "write_p50_s": sum(o["kind"] == "write" for o in untraced),
        "ops_per_s": len(ops), "input_rows_per_s": len(ops),
        "ok_ratio": attempted, "failed_ratio": attempted,
    }
    for name, v in e2e.items():
        n = counts.get(name, 1)
        extra = f" p{tail_pct}" if name == "latency_tail_s" else ""
        print(f"{args.workload} {name} = {v:.6g} {E2E_UNITS[name]} "
              f"(n={n}{extra})")

    record = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "cpus": cpus, "jvm_heap": mem, "seconds": wall,
        "input_rows": w.inputs.total_rows,
        "input_bytes": w.inputs.total_bytes,
        "setup_phases_s": {k: round(v, 3) for k, v in phases.items()},
        "check_s": check_s,
        "host_steal_s": steal,
        "host_steal_frac": steal / (wall * os.cpu_count()),
        "ops": {k: sum(o["name"] == k for o in ops)
                for k in set(w.round_types)},
        "latencies": [(o["name"], round(o["latency_s"], 4)) for o in ops],
        "peak_mb_by_process": {k: round(v / 2**20, 1)
                               for k, v in rss.items()},
        "check_failures": issues,
    }
    print("run-record " + json.dumps(record, sort_keys=True))

    metrics = {k: {"value": e2e[k], "unit": E2E_UNITS[k]}
               for k in _declared("end_to_end")}
    if args.trace:
        traced = [o for o in ops if o["traced"]]
        layer = {"session.start_s": session_s, **probes,
                 "trace.overhead_s": (statistics.median(
                     o["latency_s"] for o in traced) - e2e["latency_p50_s"])}
        for key in LAYER_UNITS:
            if key not in layer:
                mean = statistics.fmean
                if key == "core.insert_s":
                    layer[key] = _stat(mean, traced, "latency_s",
                                       kind="write")
                elif key == "core.serve_s":
                    layer[key] = _stat(mean, traced, "latency_s", kind="read")
                else:
                    layer[key] = _stat(mean, traced, key)
        for key, v in layer.items():
            print(f"{args.workload} {key} = {v:.6g} {LAYER_UNITS[key]} "
                  f"(n={len(traced)} traced ops)")
        for name, s in sorted(tracer.self_times().items()):
            print(f"{args.workload} self-time {name} = {s:.4f} s")
        tracer.dump(os.path.join(HERE, "out", f"trace-{args.workload}-"
                                 f"seed{args.seed}.json"))
        metrics = {k: {"value": layer[k], "unit": LAYER_UNITS[k]}
                   for k in _declared("per_layer")}
    print(json.dumps({"correct": not issues and failed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def _declared(section: str) -> list[str]:
    """Metric names ``BENCHMARK.json`` declares for ``section``."""
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as fh:
        return [m["name"] for m in json.load(fh)[section]]


if __name__ == "__main__":
    sys.exit(main())
