"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload iterative --seed 1 --seconds 20 --trace 0

One process, one client, closed loop: each query is submitted when the
previous one has finished, on ``local[<cpus>]``. A run

1. generates the input tables from ``--seed`` (perfbench/datagen.py);
2. sets the session up five times (``session.get_spark`` plus a first scan;
   the first set-up launches the JVM) and keeps the last session;
3. runs one untimed pass that collects every query's result and compares
   it with the query's DuckDB oracle;
4. runs one untimed warm-up pass, then timed passes until ``--seconds``
   are used. A pass runs every query of the workload in a seeded order,
   each fully materialised through a ``noop`` write, and checks its row
   count against the checked result.

With ``--trace 0`` it prints the end-to-end metrics. With ``--trace 1`` the
session has Spark's event log on and the timed passes run with the
program's public functions wrapped (perfbench/trace.py); it prints the
per-layer metrics and writes every query's metrics and spans to
``.perfbench/trace/<workload>-s<seed>.json``. Its ``trace.wall_s`` minus
``wall_s`` of an untraced run of the same seed is the tracing overhead.

Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import datagen, workloads  # noqa: E402

SETUPS = 5
# Passes after the check pass that are run like timed ones but not
# measured: the first executions of a query are JIT warm-up (up to 2x).
WARMUP_PASSES = 1
# Driver heap: ample for these inputs, and small enough that the JVM's
# resident set settles instead of growing with the 8g factory default.
DRIVER_MEM = "1g"


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _p90(xs) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else _median(xs)


def _dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
    return total


def _descendants() -> list[int]:
    """Pids of every process below this one."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    found, frontier = [], [os.getpid()]
    while frontier:
        kids = [p for p, pp in parent.items() if pp in frontier]
        found += kids
        frontier = kids
    return found


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-s{args.seed}-{os.getpid()}")
        self.data = os.path.join(self.work, "data")
        self.tmp = os.path.join(self.work, "tmp")
        self.warehouse = os.path.join(self.work, "warehouse")
        self.eventlog = os.path.join(self.work, "eventlog")
        for d in (self.data, self.tmp, self.warehouse, self.eventlog, os.path.join(self.work, "local"), os.path.join(self.work, "jtmp")):
            os.makedirs(d, exist_ok=True)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.verified: dict[str, int] = {}

    # -- environment and session -------------------------------------------

    def prepare(self) -> None:
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        # every JVM the run starts (Spark's launcher too) keeps its temp
        # files in the checkout and writes no hsperfdata under /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={self.work}/jtmp -XX:-UsePerfData"
        # Python workers (the DSv2 writer among them) import the program
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        os.environ["SPARK_GRAFT_TERA_BIG"] = str(workloads.TERA_ROWS)
        os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        datagen.write(self.data, self.args.seed)

    def conf(self, traced: bool) -> dict[str, str]:
        conf = {
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": self.warehouse,
            "spark.ui.showConsoleProgress": "false",
        }
        if traced:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.eventlog,
                    "spark.eventLog.compress": "false",
                }
            )
        return conf

    def start(self, traced: bool = False) -> tuple[float, float]:
        """Start a session and run the first scan; returns (get_spark_s, setup_s)."""
        from hadoop_2_7_1_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=self.conf(traced))
        t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.read.parquet(os.path.join(self.data, "lineitem.parquet")).count()
        return t1 - t0, time.perf_counter() - t0

    def clear_event_log(self) -> None:
        """Keep only the next session's event log."""
        shutil.rmtree(self.eventlog, ignore_errors=True)
        os.makedirs(self.eventlog)

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark, its JVM and every process below this one, and wait."""
        from pyspark import SparkContext

        kids = _descendants()
        try:
            self.stop_session()
        finally:
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                    try:
                        proc.wait(timeout=30)
                    except Exception:  # noqa: BLE001 - fall through to the kill below
                        pass
                SparkContext._gateway = None
                SparkContext._jvm = None
            deadline = time.time() + 30
            while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in kids):
                time.sleep(0.1)
            for p in kids:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass

    def jvm_peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        return _vm_hwm_mb(SparkContext._gateway.proc.pid)

    def scrub(self) -> None:
        """Drop cached SQL data and the RDD blocks localCheckpoint leaves."""
        self.spark.catalog.clearCache()
        for jrdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            jrdd.unpersist()

    def sinks(self) -> list[str]:
        out = [os.path.join(self.tmp, n) for n in os.listdir(self.tmp) if n.startswith(("h271_", "io_partitioned_write"))]
        return out + [os.path.join(self.warehouse, n) for n in os.listdir(self.warehouse) if n.startswith("bkt_")]

    def clear_sinks(self) -> int:
        """Delete what the pass's sinks wrote; returns its size in bytes."""
        total = 0
        for path in self.sinks():
            total += _dir_bytes(path)
            shutil.rmtree(path, ignore_errors=True)
        return total

    # -- passes ---------------------------------------------------------------

    def verify_pass(self, queries) -> None:
        """Untimed: collect every result and compare it with its oracle."""
        import duckdb

        from tests.conftest import assert_frames_match

        con = duckdb.connect(config={"threads": 2, "temp_directory": os.path.join(self.work, "duckdb")})
        try:
            for t in datagen.ROWS.keys() | {"region", "nation"}:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(self.data, t)}.parquet'")
            for q in workloads.pass_order(queries, self.args.seed, 0):
                self.scrub()
                self.attempted += 1
                try:
                    t0 = time.perf_counter()
                    got = q.fn(self.spark, self.data).toPandas()
                    t1 = time.perf_counter()
                    want = con.sql(q.oracle).df()
                    t2 = time.perf_counter()
                    assert_frames_match(got, want, q.name)
                    self.verified[q.name] = len(got)
                    print(f"# check {q.name}: spark {t1 - t0:.3f}s, oracle {t2 - t1:.3f}s", file=sys.stderr)
                except Exception as exc:  # noqa: BLE001 - a failing query is a result
                    self._fail(q.name, exc)
        finally:
            con.close()
        self.clear_sinks()

    def _fail(self, name: str, exc: BaseException) -> None:
        self.failed += 1
        msg = f"{type(exc).__name__}: {exc}".splitlines()[0][:300]
        print(f"# {name}: FAILED {msg}", file=sys.stderr)
        traceback.print_exc()

    def timed_pass(self, queries, pass_no: int, tracer=None) -> dict:
        """One pass in the seeded order; returns its per-query records."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        sc = self.spark.sparkContext
        records = []
        for q in workloads.pass_order(queries, self.args.seed, pass_no):
            self.scrub()
            self.attempted += 1
            group = f"bench:{self.args.workload}:{pass_no}:{q.name}"
            if tracer is not None:
                tracer.counters.clear()
                tracer.phase = "build"
                sc.setJobGroup(group + ":build", q.name)
            try:
                t0 = time.time()
                df = q.fn(self.spark, self.data)
                t1 = time.time()
                if tracer is not None:
                    tracer.phase = "exec"
                    sc.setJobGroup(group + ":exec", q.name)
                obs = Observation()
                df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
                t2 = time.time()
                rows = obs.get["n"]
                if q.name not in self.verified:
                    raise RuntimeError("result did not match the oracle in the check pass")
                if rows != self.verified[q.name]:
                    raise RuntimeError(f"{rows} rows, the checked result has {self.verified[q.name]}")
            except Exception as exc:  # noqa: BLE001 - a failing query is a result
                self._fail(q.name, exc)
                continue
            rec = {"pass": pass_no, "query": q.name, "group": group, "start": t0, "built": t1, "end": t2, "wall_s": t2 - t0}
            if tracer is not None:
                tracer.phase = ""
                rec["counters"] = dict(tracer.counters)
                rec["leaked_blocks"] = len(sc._jsc.getPersistentRDDs())
            records.append(rec)
        if tracer is not None:
            sc.setJobGroup("", "")
        written = self.clear_sinks()
        print(f"# pass {pass_no}: {sum(r['wall_s'] for r in records):.3f}s", file=sys.stderr)
        return {"pass": pass_no, "wall_s": sum(r["wall_s"] for r in records), "written_bytes": written, "queries": records}

    def passes(self, queries, seconds: float, tracer=None) -> list[dict]:
        """Untimed warm-up passes, then timed passes until the next one
        would overrun ``seconds``."""
        for i in range(WARMUP_PASSES):
            self.timed_pass(queries, -1 - i)
        out: list[dict] = []
        t0 = time.perf_counter()
        while not out or time.perf_counter() - t0 + _median([p["wall_s"] for p in out]) <= seconds:
            out.append(self.timed_pass(queries, len(out) + 1, tracer))
        return out


def _by_query(timed: list[dict]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for r in (r for p in timed for r in p["queries"]):
        out.setdefault(r["query"], []).append(r["wall_s"])
    return out


def _pass_wall(timed: list[dict]) -> float:
    """One pass, as the sum of each query's median latency."""
    return sum(_median(xs) for xs in _by_query(timed).values())


def end_to_end(run: Run, setups: list[float], timed: list[dict]) -> dict:
    samples = [r["wall_s"] for p in timed for r in p["queries"]]
    for name, xs in sorted(_by_query(timed).items()):
        print(f"# {name}: median {_median(xs):.3f}s of {len(xs)}", file=sys.stderr)
    print(
        f"# {len(timed)} timed passes, {len(samples)} query samples; "
        f"written {_median([p['written_bytes'] for p in timed]) / 1e6:.3f} MB/pass",
        file=sys.stderr,
    )
    return {
        "setup_s": (_median(setups), "s"),
        "wall_s": (_pass_wall(timed), "s"),
        "query_p50_s": (_median(samples), "s"),
        "query_p90_s": (_p90(samples), "s"),
        "passed_frac": (1.0 - run.failed / run.attempted, "ratio"),
        "jvm_peak_rss_mb": (run.jvm_peak_rss_mb(), "MB"),
    }


def _unit(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    return "bytes" if "bytes" in metric else "count"


def query_layers(rec: dict, groups: dict, jobs: list[dict]) -> dict[str, float]:
    """The per-layer metrics of one traced query run."""
    from perfbench.trace import covered

    c = rec["counters"]
    build = groups.get(rec["group"] + ":build", {})
    both: dict[str, float] = {}
    for g in (build, groups.get(rec["group"] + ":exec", {})):
        for k, v in g.items():
            both[k] = both.get(k, 0.0) + v
    mine = [(j["start"], j["end"]) for j in jobs if j["end"] and j["group"].startswith(rec["group"] + ":")]
    return {
        "io.load_table_calls": c.get("load_table_calls", 0),
        "io.load_table_s": c.get("load_table_s", 0.0),
        "io.scan_input_bytes": both.get("input_bytes", 0),
        "io.scan_input_records": both.get("input_records", 0),
        "queries.build_s": rec["built"] - rec["start"],
        "queries.exec_s": rec["end"] - rec["built"],
        "driver.gap_s": rec["wall_s"] - covered(rec["start"], rec["end"], mine),
        "operators.driver_actions": c.get("driver_actions_calls", 0),
        "operators.checkpoints": c.get("checkpoints_calls", 0),
        "operators.persists": c.get("persists_calls", 0),
        "operators.build_jobs": build.get("jobs", 0),
        "operators.leaked_blocks": rec["leaked_blocks"],
        "sources.call_s": c.get("sources_s", 0.0),
        "arrow.bytes_to_python": both.get("py_sent_bytes", 0),
        "arrow.bytes_from_python": both.get("py_recv_bytes", 0),
        "spark.jobs": both.get("jobs", 0),
        "spark.stages": both.get("stages", 0),
        "spark.shuffle_stages": both.get("shuffle_stages", 0),
        "spark.tasks": both.get("tasks", 0),
        "spark.failed_tasks": both.get("failed_tasks", 0),
        "spark.task_run_s": both.get("task_run_ms", 0) / 1e3,
        "spark.task_cpu_s": both.get("task_cpu_ns", 0) / 1e9,
        "spark.task_wait_s": both.get("task_wait_s", 0.0),
        "spark.gc_s": both.get("gc_ms", 0) / 1e3,
        "spark.shuffle_write_bytes": both.get("shuffle_write_bytes", 0),
        "spark.shuffle_read_bytes": both.get("shuffle_read_bytes", 0),
        "spark.spill_bytes": both.get("spill_bytes", 0),
        "spark.output_bytes": both.get("output_bytes", 0),
    }


def spans(workload: str, traced: list[dict], jobs: list[dict], stages: list[dict]) -> list[dict]:
    """workload > pass > query > build/exec > Spark job > stage spans."""
    out = []
    recs = [r for p in traced for r in p["queries"]]
    if not recs:
        return out
    out.append({"id": "w", "parent": None, "layer": "workload", "name": workload, "start": recs[0]["start"], "end": recs[-1]["end"]})
    for p in traced:
        if p["queries"]:
            pid = f"p{p['pass']}"
            out.append({"id": pid, "parent": "w", "layer": "pass", "name": pid, "start": p["queries"][0]["start"], "end": p["queries"][-1]["end"]})
    for r in recs:
        g = r["group"]
        out.append({"id": g, "parent": f"p{r['pass']}", "layer": "query", "name": r["query"], "start": r["start"], "end": r["end"]})
        out.append({"id": g + ":build", "parent": g, "layer": "build", "name": "build", "start": r["start"], "end": r["built"]})
        out.append({"id": g + ":exec", "parent": g, "layer": "exec", "name": "exec", "start": r["built"], "end": r["end"]})
    known = {s["id"] for s in out}
    job_ids = set()
    for j in jobs:
        if j["group"] in known and j["end"]:
            job_ids.add(j["id"])
            out.append({"id": f"job{j['id']}", "parent": j["group"], "layer": "job", "name": f"job {j['id']}", "start": j["start"], "end": j["end"]})
    for s in stages:
        if s["job"] in job_ids and s["end"]:
            out.append({"id": f"stage{s['id']}", "parent": f"job{s['job']}", "layer": "stage", "name": f"stage {s['id']}", "start": s["start"], "end": s["end"]})
    return out


def per_layer(run: Run, traced: list[dict], get_spark_s: list[float]) -> dict:
    """Per-layer metrics (per pass, median over traced passes) and the
    trace file with every query's metrics and the span tree."""
    from perfbench import trace

    groups, jobs, stages = trace.parse_event_log(run.eventlog)
    per_pass = []
    rows = []
    for p in traced:
        totals: dict[str, float] = {"sinks.written_mb": p["written_bytes"] / 1e6}
        for r in p["queries"]:
            m = query_layers(r, groups, jobs)
            rows.append({"pass": r["pass"], "query": r["query"], "wall_s": r["wall_s"], **m})
            for k, v in m.items():
                totals[k] = totals.get(k, 0.0) + v
        per_pass.append(totals)
    values = {k: _median([t.get(k, 0.0) for t in per_pass]) for k in per_pass[0]} if per_pass else {}
    values["session.get_spark_s"] = _median(get_spark_s)
    # tracing overhead = this figure minus wall_s of an untraced run
    values["trace.wall_s"] = _pass_wall(traced)
    metrics = {k: (v, _unit(k)) for k, v in sorted(values.items())}
    tree = spans(run.args.workload, traced, jobs, stages)
    out_dir = os.path.join(ROOT, ".perfbench", "trace")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{run.args.workload}-s{run.args.seed}.json")
    with open(path, "w") as fh:
        json.dump(
            {
                "workload": run.args.workload,
                "seed": run.args.seed,
                "pass_wall_s": [p["wall_s"] for p in traced],
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                "self_s": trace.self_times(tree),
                "queries": rows,
                "spans": tree,
            },
            fh,
            indent=1,
        )
    print(f"# trace written to {os.path.relpath(path, ROOT)}", file=sys.stderr)
    return metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    for need in ("hadoop_2_7_1_spark/__init__.py", "tests/conftest.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: the program is missing: no {need} in {ROOT}", file=sys.stderr)
            return 2

    run = Run(args)
    t_run = time.perf_counter()

    def note(what: str) -> None:
        print(f"# {time.perf_counter() - t_run:7.2f}s {what}", file=sys.stderr)

    try:
        run.prepare()
        note("inputs generated")
        queries = workloads.queries(args.workload)
        setups, get_spark_s = [], []
        for i in range(SETUPS):
            if i:
                run.stop_session()
            if args.trace:
                run.clear_event_log()
            g, s = run.start(traced=bool(args.trace))
            get_spark_s.append(g)
            setups.append(s)
            note(f"set-up {i + 1}: {s:.3f}s (get_spark {g:.3f}s)")
        run.verify_pass(queries)
        note(f"check pass: {len(run.verified)}/{len(queries)} queries match their oracle")
        if not args.trace:
            metrics = end_to_end(run, setups, run.passes(queries, args.seconds))
        else:
            from perfbench import trace

            tracer = trace.Tracer()
            tracer.install()
            try:
                timed = run.passes(queries, args.seconds, tracer)
            finally:
                tracer.uninstall()
            run.stop_session()  # flushes the event log
            metrics = per_layer(run, timed, get_spark_s)
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        run.shutdown()
        shutil.rmtree(run.work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
