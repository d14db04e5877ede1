"""The repository benchmark: the CalTopo pipeline, timed end to end.

    python3 perfbench/run.py --workload caltopo_bulk --seed 1 --seconds 20 --trace 0

Run from the repository root.  It generates the workload's envelopes
from the seed, builds the session with ``session.build_spark``
defaults, sets up four times (the first set-up also starts the JVM),
runs ``WARMUPS`` untimed warm-up operations, then runs operations back
to back for ``--seconds`` and checks every posted body against the
generator's expectations.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` is a
separate traced run that times each layer (by forcing successive
pipeline prefixes into the noop sink), reads Spark's job, stage and SQL
counters for every traced operation, and prints the per-layer metrics.
The last stdout line is the result JSON; the line before it stamps the
effective environment.  Spans, per-operation records and the
environment go to ``perfbench/_work/<workload>-seed<N>-trace<T>.json``.

``--size tiny`` and ``--fault wide-position`` exist for the self-tests
(``perfbench/test_perfbench.py``).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", "_work")
#: set-ups per run: the first starts the JVM, the rest each stop the
#: SparkContext and build a new one in that JVM
SETUPS = 4
#: untimed operations after set-up: the cold one (``workloads.cold_op``)
#: and then full ones.  Operations keep getting faster for ten or so
#: more while the JVM compiles hot code, so the first timed ones still
#: sit on that slope; warming past it would leave too short a timed
#: window for the time all runs together may take, and a longer window
#: gives a steadier median than a flat but short one.
WARMUPS = 2
#: never start an operation after this many seconds of run time, so a
#: run ends well inside three minutes however slow the box is
HARD_STOP_S = 140.0


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def _prepare_environment() -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    the checkout, and let executor-side Python import the package and
    the benchmark (the stub poster runs there)."""
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "posts")):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )


def _source_digest() -> str:
    """sha256 over the package sources: the revision stamp that works
    in a checkout that is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "etl_caltopo_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _tail(samples: list[float]) -> dict | None:
    """The highest whole percentile with at least ten samples beyond
    it, with its value; None when no percentile above the median has
    that many (fewer than 20 samples)."""
    n = len(samples)
    if n < 20:
        return None
    pct = int(100 * (1 - 10 / n))
    return {"percentile": pct, "value": sorted(samples)[int(n * pct / 100) - 1], "samples": n}


class Bench:
    def __init__(self, args) -> None:
        self.args = args
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.spans: list[dict] = []
        self.records: list[dict] = []
        self.traced_rows: list[dict] = []
        self.started = time.perf_counter()

    # -- bookkeeping -------------------------------------------------

    def elapsed(self) -> float:
        return time.perf_counter() - self.started

    def span(self, name: str, op_id: str, start: float, end: float, parent: str | None) -> None:
        self.spans.append({"name": name, "op": op_id, "start": start, "end": end, "parent": parent})

    # -- one checked operation --------------------------------------

    def run_op(self, op, op_id: str) -> dict:
        """Build the pipeline the way a user does and submit it; the
        posted bodies are checked afterwards, outside the timed
        region."""
        from perfbench import sparkmeta, stub, workloads

        sc = self.spark.sparkContext
        post_dir = os.path.join(WORK, "posts", op_id.replace("/", "_"))
        os.makedirs(post_dir)
        sc.setJobGroup(op_id, op.label)
        self.attempted += 1
        rec = {"op": op_id, "label": op.label, "maps": op.maps, "features_in": op.features_in}
        cpu0 = sparkmeta.tree_cpu_s(self.pids)
        steal0, total0 = sparkmeta.host_ticks()
        t0 = time.time()
        problems = []
        try:
            df = op.run()
            if self.args.fault == "wide-position":
                df = workloads.widen_points(df)
            n = workloads.submit(df, post_dir)
            if n != op.expect.features:
                problems.append(f"submit returned {n}, expected {op.expect.features}")
        except Exception as exc:  # an operation that raises is a failed operation
            problems.append(f"{type(exc).__name__}: {exc}")
            traceback.print_exc(file=sys.stderr)
        rec["wall_s"] = time.time() - t0
        rec["cpu_s"] = sparkmeta.tree_cpu_s(self.pids) - cpu0
        steal1, total1 = sparkmeta.host_ticks()
        rec["host_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
        rec["window"] = (t0, t0 + rec["wall_s"])
        counts = [0] * len(stub.FIELDS)
        try:
            counts = stub.collect_posts(post_dir, os.getpid())
            problems += stub.verdict(counts, op.expect)
        except ValueError as exc:  # a body that is not JSON
            problems.append(f"unreadable post: {exc}")
        rec["counts"] = dict(zip(stub.FIELDS, counts))
        rec["ok"] = not problems
        if problems:
            self.failed += 1
            rec["problems"] = problems[:5]
            _log(f"{op_id} FAILED: {'; '.join(problems[:3])}")
        self.records.append(rec)
        return rec

    # -- set-up ------------------------------------------------------

    def setup(self) -> tuple[dict, list]:
        """Build the session and generate the inputs ``SETUPS`` times,
        then warm up.  ``setup_s`` is the median wall time of build +
        input over the set-ups after the first; the first set-up (which
        also starts the JVM) and the cold first operation are reported
        apart, as per-layer metrics."""
        from etl_caltopo_spark.session import build_spark
        from perfbench import workloads

        parts = {"session.build_s": [], "setup.input_s": [], "setup_s": []}
        ops = None
        for k in range(SETUPS):
            t0 = time.perf_counter()
            if self.spark is not None:
                self.spark.stop()
            self.spark = build_spark(app_name=f"perfbench-{self.args.workload}")
            self.spark.sparkContext.setLogLevel("ERROR")
            t1 = time.perf_counter()
            ops = workloads.make_inputs(
                self.args.workload, self.spark, self.args.seed, WORK, self.args.size
            )
            t2 = time.perf_counter()
            self.pids = [os.getpid(), self.spark.sparkContext._gateway.proc.pid]
            for key, v in zip(parts, (t1 - t0, t2 - t1, t2 - t0)):
                parts[key].append(v)
            _log(f"setup {k}: build {t1 - t0:.2f}s input {t2 - t1:.2f}s")
        out = {k: statistics.median(v[1:]) for k, v in parts.items()}
        out["session.first_build_s"] = parts["session.build_s"][0]
        cold = workloads.cold_op(self.args.workload, self.spark, self.args.seed, WORK, self.args.size)
        walls = [self.run_op(cold, "warmup-0")["wall_s"]]
        while len(walls) < WARMUPS:
            rec = self.run_op(ops[(len(walls) - 1) % len(ops)], f"warmup-{len(walls)}")
            walls.append(rec["wall_s"])
        out["setup.warmup_s"] = walls[0]
        _log(f"warm-up walls {[round(w, 2) for w in walls]}")
        return out, ops

    # -- environment stamp -------------------------------------------

    def environment(self, ops) -> dict:
        from etl_caltopo_spark.caltopo import sink
        from perfbench import gen

        spark = self.spark
        sc = spark.sparkContext
        plan = ops[0].run()._jdf.queryExecution().executedPlan().toString()
        return {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "size": self.args.size,
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": sc.getConf().get("spark.driver.memory", "1g"),
            "nproc": os.cpu_count(),
            "spark_version": spark.version,
            "source_digest": _source_digest(),
            "forcing_sink": "stub poster via sink.submit_idempotent; noop for traced prefixes",
            "driver_collect_max": sink.DRIVER_COLLECT_MAX,
            "folder_join_broadcast": "BroadcastHashJoin" in plan,
            "python_udf_in_plan": "ArrowEvalPython" in plan,
            "ops_in_pool": len(ops),
            "features_in_per_op": [op.features_in for op in ops],
            "input_mix": gen.INPUT_MIX,
        }

    # -- measured loops ----------------------------------------------

    def measure(self, ops) -> list[dict]:
        """Closed loop, one client: the next operation starts when the
        previous one ends, until ``--seconds`` have passed."""
        done = []
        t_end = time.perf_counter() + self.args.seconds
        i = 0
        while time.perf_counter() < t_end and self.elapsed() < HARD_STOP_S or i == 0:
            rec = self.run_op(ops[i % len(ops)], f"op-{i}")
            self.span("op", rec["op"], *rec["window"], None)
            done.append(rec)
            i += 1
        _log(f"timed {len(done)} operations")
        return [r for r in done if r["ok"]] or done

    def traced(self, ops) -> dict:
        """Alternate an untraced operation with a traced one.  A traced
        operation forces each pipeline prefix into noop under its own
        job group, then runs the full operation under another; Spark's
        counters for those groups are read after the loop.  A traced
        operation whose join prefix does not plan like the operation
        itself fails: its layer times would measure other code."""
        from etl_caltopo_spark.queries import REGISTRY
        from perfbench import workloads

        sc = self.spark.sparkContext
        plain, traced = [], []
        t_end = time.perf_counter() + self.args.seconds
        i = 0
        while time.perf_counter() < t_end and self.elapsed() < HARD_STOP_S or i == 0:
            op = ops[i % len(ops)]
            rec = self.run_op(op, f"plain-{i}")
            if rec["ok"]:
                plain.append(rec)
            op_id = f"traced-{i}"
            t_op = time.time()
            layer_walls = {}
            try:
                steps = workloads.prefixes(op)
                if not workloads.same_plan(steps[-1][1](), op.run()):
                    raise RuntimeError("the join prefix plans differently from the operation")
                for layer, build in steps:
                    sc.setJobGroup(f"{op_id}/{layer}", layer)
                    t0 = time.time()
                    _noop(build())
                    t1 = time.time()
                    layer_walls[layer] = t1 - t0
                    self.span(f"force<={layer}", op_id, t0, t1, op_id)
            except Exception:  # a prefix that raises fails the traced operation
                traceback.print_exc(file=sys.stderr)
                self.attempted += 1
                self.failed += 1
                i += 1
                continue
            rec = self.run_op(op, f"{op_id}/caltopo.sink")
            self.span("caltopo.sink", op_id, *rec["window"], op_id)
            q_group = f"{op_id}/queries.q_caltopo_pipeline"
            sc.setJobGroup(q_group, "registry")
            t0 = time.time()
            qdf = REGISTRY["q_caltopo_pipeline"].fn(self.spark, WORK)
            t1 = time.time()
            construct_jobs = len(sc.statusTracker().getJobIdsForGroup(q_group))
            _noop(qdf)
            t2 = time.time()
            self.span("queries.q_caltopo_pipeline", op_id, t0, t2, op_id)
            self.span("op", op_id, t_op, t2, None)
            traced.append(
                {
                    "op": op_id,
                    "ok": rec["ok"],
                    "layer_walls": layer_walls,
                    "sink_wall": rec["wall_s"],
                    "sink_window": rec["window"],
                    "features_in": op.features_in,
                    "counts": rec["counts"],
                    "query": {"construct_s": t1 - t0, "action_s": t2 - t1, "eager_jobs": construct_jobs},
                }
            )
            i += 1
        return {"plain": plain, "traced": traced}

    # -- metrics -----------------------------------------------------

    def end_to_end(self, setup: dict, ops: list[dict]) -> dict:
        """Wall time of the timed operations.  ``map_run_p50_s`` is the
        median wall time per map (an operation's wall over the maps it
        carries: one on ``caltopo_maps``, the whole batch on
        ``caltopo_bulk``); ``bulk_features_per_s`` is the median of
        features accepted by the sink per second of operation wall.
        CPU seconds of the process tree, the tail percentile and peak
        memory are stamped in the environment record."""
        from perfbench import sparkmeta

        walls = [r["wall_s"] for r in ops]
        self.env.update(
            ops_measured=len(ops),
            map_run_tail=_tail([r["wall_s"] / r["maps"] for r in ops]),
            peak_rss_mb=sparkmeta.peak_rss_mb(self.pids[1]),
            op_walls_s=[round(w, 4) for w in walls],
            op_cpu_s=[round(r["cpu_s"], 3) for r in ops],
            op_host_steal_share=[round(r["host_steal_share"], 3) for r in ops],
        )
        return {
            "map_run_p50_s": (statistics.median(r["wall_s"] / r["maps"] for r in ops), "s"),
            "bulk_features_per_s": (
                statistics.median(r["counts"]["features"] / r["wall_s"] for r in ops),
                "1/s",
            ),
            "setup_s": (setup["setup_s"], "s"),
        }

    def per_layer(self, setup: dict, run: dict) -> dict:
        from perfbench import sparkmeta, workloads

        counters = sparkmeta.SparkCounters(self.spark.sparkContext)
        rows = []
        for t in run["traced"]:
            walls = t["layer_walls"]
            row = {}
            prev = 0.0
            for layer in workloads.LAYERS:
                row[f"{layer}_s"] = walls[layer] - prev
                prev = walls[layer]
            row["caltopo.sink_s"] = t["sink_wall"] - prev
            row["caltopo.op_wall_s"] = t["sink_wall"]
            sink_group = f"{t['op']}/caltopo.sink"
            stages = counters.stage_totals(sink_group, t["sink_window"])
            row["caltopo.jobs_per_op"] = stages.pop("spark.jobs")
            row.update(stages)
            row["caltopo.pipeline_jobs"] = len(counters.jobs(f"{t['op']}/caltopo.join"))
            row.update(counters.python_totals(f"{t['op']}/caltopo.join"))
            row["caltopo.features_in"] = t["features_in"]
            row["caltopo.features_out"] = t["counts"]["features"]
            row["caltopo.useful_share"] = t["counts"]["features"] / t["features_in"]
            row["caltopo.sink.posts"] = t["counts"]["posts"]
            row["caltopo.sink.bytes_posted"] = t["counts"]["bytes"]
            for key, v in t["query"].items():
                row[f"queries.q_caltopo_pipeline.{key}"] = v
            rows.append(row)
        if not rows:
            raise RuntimeError("no traced operation got past its pipeline prefixes")
        self.traced_rows = rows
        metrics ={k: statistics.median(r[k] for r in rows) for k in rows[0]}
        for key in ("session.build_s", "session.first_build_s", "setup.input_s", "setup.warmup_s"):
            metrics[key] = setup[key]
        plain = run["plain"] or [{"wall_s": float("nan"), "cpu_s": float("nan")}]
        metrics["caltopo.plain_op_wall_s"] = statistics.median(r["wall_s"] for r in plain)
        metrics["caltopo.plain_op_cpu_s"] = statistics.median(r["cpu_s"] for r in plain)
        metrics["memory.peak_rss_mb"] = sparkmeta.peak_rss_mb(self.pids[1])
        metrics["trace.overhead_s"] = (
            statistics.median(t["sink_wall"] for t in run["traced"])
            - metrics["caltopo.plain_op_wall_s"]
        )
        metrics["trace.ops"] = len(rows)
        units = _per_layer_units()
        return {k: (v, units[k]) for k, v in metrics.items()}

    # -- entry -------------------------------------------------------

    def main(self) -> dict:
        setup, ops = self.setup()
        self.env = self.environment(ops)
        if self.args.trace:
            result = self.per_layer(setup, self.traced(ops))
        else:
            result = self.end_to_end(setup, self.measure(ops))
        return result

    def close(self) -> None:
        """Stop the SparkContext and the JVM it runs in, and wait for
        the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        proc = SparkContext._gateway.proc
        self.spark.stop()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _per_layer_units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def parse_args(argv=None):
    from perfbench.workloads import SIZES

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--fault", choices=("none", "wide-position"), default="none")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    # fails here, before any output, where the package is absent
    import etl_caltopo_spark.caltopo  # noqa: F401

    args = parse_args(argv)
    os.makedirs(WORK, exist_ok=True)
    _prepare_environment()
    bench = Bench(args)
    try:
        metrics = bench.main()
    finally:
        bench.close()
        _log("stopped")
    out = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    last = bench.records[-1]["counts"]
    bench.env["sink_path"] = "driver" if last["driver_posts"] == last["posts"] else "executor"
    record = {
        "env": bench.env,
        "result": out,
        "spans": bench.spans,
        "ops": bench.records,
        "traced_ops": bench.traced_rows,
    }
    path = os.path.join(WORK, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({"env": bench.env}, default=str))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
