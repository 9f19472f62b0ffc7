"""One benchmark run of one workload, in a fresh process.

Started by ``run.py`` with the environment pinned; not meant to be run by
hand. Writes the run's result (the JSON object ``run.py`` prints) to
``--out`` and its artifact (per-pass and per-row timings, host steal and
load, spans) to a new file in ``--artifacts``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

import checks
import lake
import procfs
import sparktrace
from workloads import END_TO_END, PER_LAYER, ROW_LAYERS, ROW_METRICS, WORKLOADS, layer_of


#: The first pass runs cold (class loading, code generation); the JIT
#: compiler keeps the next two 10-40% slower, and their CPU higher, than
#: the passes after them.
WARMUP_PASSES = 3


def _err(e: BaseException) -> str:
    return f"{type(e).__name__}: {(str(e).strip().splitlines() or [''])[0][:300]}"


class Runner:
    """Runs passes of one workload on one lake, closed loop."""

    def __init__(self, spark, workload, lake_dir, queries, listener) -> None:
        self.spark = spark
        self.w = workload
        self.lake = lake_dir
        self.queries = queries
        self.checker: checks.Checker | None = None  # set once expected answers exist
        self.listener = listener
        self.root = os.getpid()
        self.passes: list[dict] = []
        self.spans: list[dict] = []
        self.attempted = 0
        self.failed: list[str] = []
        self._unchecked: list[tuple] = []

    def check(self) -> None:
        """Check the results of every pass run so far (outside pass time)."""
        for kind, pid, rows, results in self._unchecked:
            for rec, (row, columns, collected, err) in zip(rows, results):
                self.attempted += 1
                if not err:
                    err = self.checker.check(row, columns, [tuple(r) for r in collected])
                rec["error"] = err
                if err:
                    self.failed.append(f"{kind} pass {pid} {row}: {err}")
        self._unchecked.clear()

    def run_pass(self, kind: str, traced: bool) -> dict:
        pid = len(self.passes)
        sc = self.spark.sparkContext
        steal0, total0 = procfs.host_times()
        cpu0, py0 = procfs.cpu(self.root)
        rows, results, excluded = [], [], 0.0
        t_pass = time.time()
        for row in self.w.rows:
            q = self.queries[row]
            group = f"{row}#{pid}"
            sc.setJobGroup(group, f"perfbench {kind} pass {pid}")
            if traced:
                tx = time.time()
                self.listener.take(timeout_s=0)  # drop drains of earlier passes
                _, py_a = procfs.cpu(self.root)
                excluded += time.time() - tx
            collected, columns, err = [], [], ""
            t0 = time.time()
            t1 = None
            try:
                df = q.fn(self.spark, self.lake)
                t1 = time.time()
                collected = df.collect()
                t2 = time.time()
                columns = df.columns
            except Exception as e:  # a failing row is counted, the pass goes on
                t2 = time.time()
                err = _err(e)
            t1 = t1 or t2
            rec = {"row": row, "layer": layer_of(q.fn.__module__), "build_s": t1 - t0,
                   "exec_s": t2 - t1, "start": t0, "end": t2, "n_rows": len(collected)}
            if traced:
                tx = time.time()
                rec.update(self._trace_row(rec, group, pid, py_a))
                excluded += time.time() - tx
            rows.append(rec)
            results.append((row, columns, collected, err))
        pass_s = time.time() - t_pass - excluded
        cpu1, py1 = procfs.cpu(self.root)
        steal1, total1 = procfs.host_times()
        if traced:
            drained = sum(r["stream"]["records"] for r in rows)
        else:
            drained = sparktrace.drain_stats(self.listener.take())["records"]
        self._unchecked.append((kind, pid, rows, results))
        if self.checker is not None:
            self.check()
        p = {
            "pass": pid,
            "kind": kind,
            "traced": traced,
            "cores": sc.defaultParallelism,
            "pass_s": pass_s,
            "trace_collect_s": excluded,
            "cpu_s": cpu1 - cpu0,
            "py_cpu_s": py1 - py0,
            "drained": drained,
            "steal_share": (steal1 - steal0) / max(1, total1 - total0),
            "load1": procfs.load1(),
            "rows": rows,
        }
        if traced:
            self.spans.append({"pass": pid, "name": f"pass{pid}", "parent": None,
                               "start": t_pass, "end": t_pass + pass_s + excluded})
        self.passes.append(p)
        return p

    def _trace_row(self, rec: dict, group: str, pid: int, py_a: float) -> dict:
        progress = self.listener.take() if rec["layer"] == "streaming.jobs" else {}
        jobs = sparktrace.jobs(self.spark, [group, *progress])
        _, py_b = procfs.cpu(self.root)
        stages = [s for j in jobs for s in j["stages"]]
        m = {k: sum(s[k] for s in stages) for k in ("tasks", "task_s", "cpu_s", "shuffle_mb", "spill_mb")}
        m["jobs"] = len(jobs)
        m["py_cpu_s"] = py_b - py_a
        stream = sparktrace.drain_stats(progress)
        name = f"pass{pid}/{rec['row']}"
        build = (rec["start"], rec["start"] + rec["build_s"])
        job_iv = [(j["start"], j["end"]) for j in jobs if j["start"] and j["end"]]
        rec_spans = [
            {"name": name, "parent": f"pass{pid}", "start": rec["start"], "end": rec["end"]},
            {"name": f"{name}/build", "parent": name, "start": build[0], "end": build[1]},
            {"name": f"{name}/collect", "parent": name, "start": build[1], "end": rec["end"]},
        ]
        for j in jobs:
            phase = "build" if j["start"] and j["start"] < build[1] else "collect"
            jname = f"{name}/{phase}/job{j['id']}"
            rec_spans.append({"name": jname, "parent": f"{name}/{phase}",
                              "start": j["start"], "end": j["end"]})
            rec_spans += [{"name": f"{jname}/stage{s['id']}", "parent": jname,
                           "start": s["start"], "end": s["end"]} for s in j["stages"]]
        rec_spans += sparktrace.batch_spans(progress, f"{name}/build")
        for s in rec_spans:
            s["pass"] = pid
        self.spans += rec_spans
        m["build_self_s"] = rec["build_s"] - sparktrace.covered(*build, job_iv)
        m["stream"] = stream
        return m


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _quartiles(xs: list[float]) -> list[float]:
    return statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3


def _layer_metrics(passes: list[dict]) -> dict[str, float]:
    """Per-layer row metrics summed per pass, then the median over passes."""
    per_pass = []
    for p in passes:
        acc = {f"{l}.{m}": 0.0 for l in ROW_LAYERS for m, _ in ROW_METRICS}
        stream = dict.fromkeys(("batches", "batch_ms", "commit_ms", "state_rows", "state_commit_ms"), 0.0)
        for r in p["rows"]:
            for m, _ in ROW_METRICS:
                acc[f"{r['layer']}.{m}"] += r[m]
            for k in stream:
                stream[k] += r["stream"][k]
        acc.update({f"streaming.jobs.{k}": v for k, v in stream.items()})
        per_pass.append(acc)
    return {k: _median([a[k] for a in per_pass]) for k in per_pass[0]}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--spawn-time", type=float, required=True)
    ap.add_argument("--lake", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--artifacts", required=True)
    ap.add_argument("--header", required=True, help="JSON of the pinned environment")
    a = ap.parse_args()
    w = WORKLOADS[a.workload]
    traced = bool(a.trace)
    setup = {}

    t = time.time()
    lake_rows = lake.write(w.lake, a.seed, a.lake)
    setup["lake_s"] = time.time() - t

    from streamline_hybrid_engine_spark import all_queries
    from streamline_hybrid_engine_spark.session import get_session

    t = time.time()
    spark = get_session("perfbench")
    setup["session_start_s"] = time.time() - t
    queries = all_queries()

    # registered on every run: drain_eps counts the records the drains read
    listener = sparktrace.DrainListener()
    spark.streams.addListener(listener)
    runner = Runner(spark, w, a.lake, queries, listener)
    t = time.time()
    for _ in range(WARMUP_PASSES):
        runner.run_pass("warmup", traced=False)
    setup["warmup_s"] = time.time() - t

    # expected answers after the warm-up, so their Spark jobs run warm
    t = time.time()
    runner.checker = checks.Checker(spark, a.lake, w.rows, queries)
    runner.check()
    setup["oracle_s"] = time.time() - t
    setup_s = time.time() - a.spawn_time

    timed: list[dict] = []
    t_run = time.time()
    with procfs.PeakRss(runner.root) as rss:
        while True:
            # a traced run alternates untraced and traced passes, so both
            # see the same process state and the gap is the tracing overhead
            if traced:
                timed.append(runner.run_pass("untraced", traced=False))
                timed.append(runner.run_pass("traced", traced=True))
            else:
                timed.append(runner.run_pass("timed", traced=False))
            if time.time() - t_run >= a.seconds:
                break

    plain = [p for p in timed if not p["traced"]]
    traced_passes = [p for p in timed if p["traced"]]
    pass_s = [p["pass_s"] for p in plain]
    if any(p["drained"] for p in plain):
        # records the drains read, as the streaming progress reports them
        eps = [p["drained"] / p["pass_s"] for p in plain]
    else:
        # no drains: the rows of every table the pass's queries read
        records = sum(runner.checker.input_records(r, lake_rows) for r in w.rows)
        eps = [records / p["pass_s"] for p in plain]
    summary = {
        "passes": len(plain),
        "pass_s_quartiles": _quartiles(pass_s),
        "drained_per_pass": _median([p["drained"] for p in plain]),
    }
    metrics: dict[str, float] = {
        "setup_s": setup_s,
        "pass_s": _median(pass_s),
        "drain_eps": _median(eps),
        "pass_cpu_s": _median([p["cpu_s"] for p in plain]),
        "peak_rss_mb": rss.peak_mb,
    }
    if traced:
        lm = _layer_metrics(traced_passes)
        lm["session.start_s"] = setup["session_start_s"]
        lm.update(_scan_probe(spark, a.lake, runner.checker.input_tables(w.rows)))
        tr_s = _median([p["pass_s"] for p in traced_passes])
        cover = [
            sum(r["build_s"] + r["exec_s"] for r in p["rows"]) / p["pass_s"] for p in traced_passes
        ]
        summary.update(
            {
                "traced_pass_s": tr_s,
                "tracing_overhead": tr_s / metrics["pass_s"] - 1.0,
                "row_span_coverage_min": min(cover),
                "build_self_s": _median(
                    [sum(r["build_self_s"] for r in p["rows"]) for p in traced_passes]
                ),
            }
        )
        spark.stop()
        os.environ["SPARK_GRAFT_CPUS"] = "1"
        spark = get_session("perfbench-serial")
        runner.spark = spark
        runner.listener = sparktrace.DrainListener()
        spark.streams.addListener(runner.listener)
        # the first pass on a new context rebuilds plans and caches
        runner.run_pass("serial-warmup", traced=False)
        serial = runner.run_pass("serial", traced=True)
        summary["serial_pass_s"] = serial["pass_s"]
        lm["catalog.parallel_speedup"] = serial["pass_s"] / tr_s
        out_metrics = {k: {"value": lm[k], "unit": u} for k, u in PER_LAYER}
    else:
        out_metrics = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END}
    _stop(spark)

    result = {
        "correct": not runner.failed,
        "attempted": runner.attempted,
        "failed": len(runner.failed),
        "metrics": out_metrics,
    }
    artifact = {
        "header": json.loads(a.header),
        "workload": w.name,
        "seed": a.seed,
        "trace": a.trace,
        "lake_rows": lake_rows,
        "setup": setup,
        "end_to_end": metrics,
        "summary": summary,
        "failures": runner.failed,
        "passes": runner.passes,
        "spans": runner.spans,
        "result": result,
    }
    name = "{}_seed{}_c{}_{}_{}.json".format(
        w.name, a.seed, json.loads(a.header)["SPARK_GRAFT_CPUS"],
        time.strftime("%Y%m%dT%H%M%S", time.gmtime(a.spawn_time)),
        "trace" if traced else "e2e",
    )
    os.makedirs(a.artifacts, exist_ok=True)
    path = os.path.join(a.artifacts, name)
    n = 1
    while os.path.exists(path):  # never overwrite an earlier run's file
        path = os.path.join(a.artifacts, f"{name[:-5]}-{n}.json")
        n += 1
    with open(path, "x") as f:
        json.dump(artifact, f, indent=1, default=float)
    with open(a.out, "w") as f:
        json.dump({"result": result, "summary": summary, "failures": runner.failed,
                   "artifact": path}, f)
    return 0


def _stop(spark) -> None:
    """Stop the session and wait for the JVM to exit, so it is reaped here
    rather than left to whatever adopts it after this process ends."""
    gw = spark.sparkContext._gateway  # stop() clears the active context
    spark.stop()
    gw.shutdown()
    gw.proc.stdin.close()  # the JVM exits when its stdin closes
    gw.proc.wait(timeout=60)


def _scan_probe(spark, lake_dir: str, tables: list[str]) -> dict[str, float]:
    """A no-op write of each input table through ``catalog.load_table``."""
    from streamline_hybrid_engine_spark.catalog import load_table

    sc = spark.sparkContext
    t_total, tasks = 0.0, 0
    for t in tables:
        group = f"scan#{t}"
        sc.setJobGroup(group, "perfbench catalog scan")
        t0 = time.time()
        load_table(spark, lake_dir, t).write.format("noop").mode("overwrite").save()
        t_total += time.time() - t0
        tasks += sum(s["tasks"] for j in sparktrace.jobs(spark, [group]) for s in j["stages"])
    return {"catalog.scan_s": t_total, "catalog.scan_tasks": float(tasks)}


if __name__ == "__main__":
    sys.exit(main())
