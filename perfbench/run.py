"""Layered benchmark of the engine's public entry points.

Runs one workload (see workloads.py) as a closed loop: one client runs
``registry.QUERIES[key](spark, dir)`` and ``toPandas()`` for one key at
a time, in a seed-permuted key order per pass, for ``--seconds``
seconds of Spark executions. Each key's result is hash-compared once with its DuckDB
oracle (scripts/selfcheck.py's canonical form) on the same input, and
the same oracle SQL is timed in the same window for ``duckdb_ratio``.

With ``--trace 0`` it reports the end-to-end metrics; with
``--trace 1`` it runs every key untraced and traced back to back and
reports the per-layer metrics of tracing.py, one layer table per key,
and the tracing overhead. Human-readable lines come first; the last line of
standard output is one JSON object.

Usage: python3 perfbench/run.py --workload hot-sf0.1 --seed 1 --seconds 10 --trace 0
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import random
import resource
import shlex
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
BASE_SF = 0.1
# scale of the inputs that warm up the workloads not served from the
# table cache: the first execution of a key in a new JVM pays for class
# loading and compilation, which tiny inputs pay for as well
WARM_SF = 0.001
# least number of timed DuckDB executions per key
DUCKDB_RUNS = 3
# percentiles that query_ms_tail may report
TAIL_GRID = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_BEYOND = 10

# end-to-end metrics of the result line (BENCHMARK.json's end_to_end).
# Printed beside them but not gated (see README.md): total_s,
# query_ms_p50 and peak_rss_mb follow the host's speed and the JVM's
# heap sizing by more than any bound allows, query_ms_tail needs more
# than TAIL_BEYOND samples, and fail_frac is the result line's
# failed / attempted
END_TO_END_UNITS = {
    "duckdb_ratio": "x",
    "setup_s": "s",
}
# per-layer metrics reported as run totals; each key's table is printed
# in full (tracing.py) before the result line
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "operators.plan_build_ms": "ms",
    "operators.py4j_calls": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "dispatch.jobs": "count",
    "dispatch.stages": "count",
    "dispatch.tasks": "count",
    "dispatch.self_ms": "ms",
    "executor.run_ms": "ms",
    "executor.cpu_ms": "ms",
    "shuffle.read_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "executor.spill_bytes": "bytes",
    "sources.input_rows": "count",
    "sources.input_bytes": "bytes",
    "sources.output_rows": "count",
    "sources.output_bytes": "bytes",
    "streaming.batches": "count",
    "streaming.state_rows": "count",
    "pyworker.bytes_sent": "bytes",
    "pyworker.bytes_received": "bytes",
    "fetch.ms": "ms",
    "fetch.rows": "count",
    "fetch.bytes": "bytes",
    "oracle.duckdb_s": "s",
    "trace.overhead_ms": "ms",
    "probe.errors": "count",
}


def _require_engine() -> None:
    need = ("atd_dockless_processing_spark/__init__.py", "scripts/selfcheck.py", "bench.py")
    missing = [p for p in need if not (ROOT / p).is_file()]
    if missing:
        raise SystemExit(f"perfbench: engine sources not found beside it: {missing}")


def _contain_scratch() -> None:
    """Point every temporary and spill directory of this process, the
    JVM and its Python workers inside the checkout."""
    tmp, local = WORK / "tmp", WORK / "spark-local"
    for d in (tmp, local):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    java = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java)} pyspark-shell"
    )
    # the launcher JVM that spark-submit starts before the driver
    os.environ["SPARK_LAUNCHER_OPTS"] = java
    import tempfile

    tempfile.tempdir = None


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _load_selfcheck():
    spec = importlib.util.spec_from_file_location("selfcheck", ROOT / "scripts" / "selfcheck.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def prepare_input(workload, sf: float) -> tuple[str, float]:
    """Directory of the workload's input and the seconds spent making it
    and the warm-up input (0 when an earlier run in this checkout made
    them)."""
    import datagen

    t0 = time.perf_counter()
    datagen.write_base(WORK / "data" / f"sf{WARM_SF}", WARM_SF)
    base = datagen.write_base(WORK / "data" / f"sf{sf}", sf)
    out = base
    if workload.mult > 1:
        out = datagen.write_replicated(base, WORK / "data" / f"sf{sf}-x{workload.mult}", workload.mult)
    return str(out), time.perf_counter() - t0


def host_record(spark=None) -> dict:
    import duckdb
    import pyspark

    rec = {
        "nproc": _cpus(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
        "loadavg": list(os.getloadavg()),
    }
    if spark is not None:
        jvm = spark.sparkContext._jvm
        rec["defaultParallelism"] = spark.sparkContext.defaultParallelism
        rec["spark"] = spark.version
        rec["java"] = jvm.java.lang.System.getProperty("java.version")
    return rec


def _peak_rss_mb(jvm_pid: int) -> tuple[float, float]:
    """Peak resident sets (MB) of this process and of the JVM it launched."""
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return own_kb / 1024.0, jvm_kb / 1024.0


def tail(samples: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest TAIL_GRID percentile with at
    least TAIL_BEYOND samples above it, by the nearest-rank rule."""
    s = sorted(samples)
    n = len(s)
    best = None
    for p in TAIL_GRID:
        rank = max(1, -(-int(p * n) // 100))  # ceil(p * n / 100)
        if n - rank >= TAIL_BEYOND:
            best = (p, s[rank - 1])
    if best is None:
        raise ValueError(f"{n} samples: no percentile has {TAIL_BEYOND} beyond it")
    return best


class Runner:
    """One benchmark run of one workload in this process."""

    def __init__(self, workload, seed: int, seconds: float, trace: bool,
                 sf: float = BASE_SF, keys=None, out=print) -> None:
        self.w = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.sf = sf
        self.keys = tuple(keys or workload.keys)
        self.out = out
        self.failed: dict[str, str] = {}
        self.layer: dict[str, float] = {}
        # per key: untraced Spark seconds, traced Spark seconds, DuckDB seconds
        self.spark_s = {k: [] for k in self.keys}
        self.traced_s = {k: [] for k in self.keys}
        self.duck_s = {k: [] for k in self.keys}
        self.records: dict[str, list[dict]] = {k: [] for k in self.keys}
        self.first: dict[str, object] = {}
        self.passes = 0
        self.pass_s: list[float] = []

    def run(self) -> dict:
        from atd_dockless_processing_spark import QUERIES, ORACLES
        from atd_dockless_processing_spark.session import get_spark

        self.QUERIES, self.ORACLES = QUERIES, ORACLES
        self.selfcheck = _load_selfcheck()
        host_before = host_record()
        sf_dir, datagen_s = prepare_input(self.w, self.sf)

        t_setup = time.perf_counter()
        spark = get_spark("perfbench", master=f"local[{_cpus()}]")
        self.spark = spark
        self.layer["session.start_s"] = time.perf_counter() - t_setup
        hot = None
        try:
            if self.w.hot:
                from workloads import HotTables

                t0 = time.perf_counter()
                hot = HotTables(spark, sf_dir)
                hot.install()
                self.layer["tables.cache_fill_s"] = time.perf_counter() - t0
            # one untimed warm-up pass: the first execution of a key in a
            # new JVM is several times slower than the next. It runs on
            # the cached tables, or else on the tiny WARM_SF input
            warm_dir = sf_dir if self.w.hot else str(WORK / "data" / f"sf{WARM_SF}")
            t0 = time.perf_counter()
            for key in self.keys:
                self._execute(key, warm_dir)
            self.layer["warmup_s"] = time.perf_counter() - t0
            setup_s = time.perf_counter() - t_setup
            self.out("# setup: " + "  ".join(
                f"{k}={v:.3f}" for k, v in self.layer.items()) + f"  total={setup_s:.3f} s")
            self._measure(sf_dir, hot)
            self._check_defects(sf_dir)
            peak = _peak_rss_mb(spark.sparkContext._gateway.proc.pid)
            host = host_record(spark)
        finally:
            if hot is not None:
                hot.uninstall()
            _stop(spark)
        host["loadavg_before"] = host_before["loadavg"]
        host["loadavg_after"] = host.pop("loadavg")
        host["datagen_s"] = datagen_s
        return self._report(setup_s, peak, host)

    def _fail(self, key: str, exc: Exception) -> None:
        self.failed.setdefault(key, f"raised {type(exc).__name__}: {str(exc)[:300]}")

    def _execute(self, key: str, sf_dir: str):
        """(seconds, pandas result) of one execution, or None if it raised."""
        try:
            t0 = time.perf_counter()
            pdf = self.QUERIES[key](self.spark, sf_dir).toPandas()
            return time.perf_counter() - t0, pdf
        except Exception as exc:  # noqa: BLE001 - every raise is a counted failure
            self._fail(key, exc)
            return None

    def _measure(self, sf_dir: str, hot) -> None:
        """Timed passes until the Spark executions add up to ``seconds``
        and the workload's ``min_passes`` have run.
        Each key's Spark execution is followed at once by one DuckDB
        execution of its oracle SQL, so both see the host in the same
        state; keys left with fewer than DUCKDB_RUNS DuckDB timings get
        more at the end."""
        rng = random.Random(self.seed)
        con = self.selfcheck.duck_con(sf_dir)
        con.execute(f"SET threads TO {_cpus()}")
        tracer = None
        if self.trace:
            from tracing import Tracer

            tracer = Tracer(self.spark)
        spark_elapsed = 0.0
        try:
            while spark_elapsed < self.seconds or self.passes < self.w.min_passes:
                order = list(self.keys)
                rng.shuffle(order)
                pass_s = 0.0
                for i, key in enumerate(order):
                    # trace mode runs each key untraced and traced back to
                    # back, which one first alternating from key to key and
                    # pass to pass, so both see the same warm state
                    modes = (False, True) if (self.passes + i) % 2 == 0 else (True, False)
                    for tracing in modes if self.trace else (False,):
                        if key in self.failed:
                            continue
                        if tracing:
                            got = self._traced(tracer, key, sf_dir, hot)
                        else:
                            got = self._execute(key, sf_dir)
                        if got is not None:
                            (self.traced_s if tracing else self.spark_s)[key].append(got[0])
                            self.first.setdefault(key, got[1])
                            pass_s += got[0]
                    self._duck(con, key)
                spark_elapsed += pass_s
                self.pass_s.append(pass_s)
                self.passes += 1
            for key in self.keys:
                while key not in self.failed and len(self.duck_s[key]) < DUCKDB_RUNS:
                    self._duck(con, key)
        finally:
            con.close()
            if tracer is not None:
                self.probe_errors = dict(tracer.probe_errors)
                self.last_probe_error = tracer.last_error
                tracer.close()

    def _check_defects(self, sf_dir: str) -> None:
        """Run each of the workload's known-defect keys once, untimed,
        and report whether its result still differs from the oracle.
        These keys are not in the timed set and not in ``failed``."""
        if not self.w.defects:
            return
        con = self.selfcheck.duck_con(sf_dir)
        norm = self.selfcheck.norm_pdf
        try:
            for key in self.w.defects:
                try:
                    pdf = self.QUERIES[key](self.spark, sf_dir).toPandas()
                    same = norm(pdf) == norm(con.execute(self.ORACLES[key]).df())
                    why = "matches the DuckDB oracle" if same else "differs from the DuckDB oracle"
                except Exception as exc:  # noqa: BLE001 - reported like a mismatch
                    same, why = False, f"raised {type(exc).__name__}: {str(exc)[:300]}"
                tag = "DEFECT FIXED" if same else "KNOWN DEFECT"
                self.out(f"{tag} {key}: {why} (left out of the timed keys)")
        finally:
            con.close()

    def _duck(self, con, key: str) -> None:
        """One timed DuckDB execution of the key's oracle SQL. The first
        one is preceded by the hash check of the key's first Spark
        result against an untimed oracle execution."""
        import duckdb

        if key in self.failed:
            return
        sql = self.ORACLES.get(key)
        if sql is None:
            self.failed[key] = "no DuckDB oracle to check against"
            return
        try:
            if key in self.first:
                norm = self.selfcheck.norm_pdf
                if norm(self.first.pop(key)) != norm(con.execute(sql).df()):
                    self.failed[key] = "result differs from the DuckDB oracle"
                    return
            t0 = time.perf_counter()
            con.execute(sql).df()
            self.duck_s[key].append(time.perf_counter() - t0)
        except duckdb.Error as exc:
            self.failed[key] = f"oracle raised {type(exc).__name__}: {str(exc)[:300]}"

    def _traced(self, tracer, key: str, sf_dir: str, hot):
        from tracing import closes

        load0 = hot.load_s if hot is not None else 0.0
        tracer.begin()
        try:
            t0 = time.time()
            df = self.QUERIES[key](self.spark, sf_dir)
            t1 = time.time()
            pdf = df.toPandas()
            t2 = time.time()
        except Exception as exc:  # noqa: BLE001 - every raise is a counted failure
            tracer.abort()
            self._fail(key, exc)
            return None
        rec = tracer.end(df, t0, t1, t2, pdf)
        if hot is not None:
            rec["metrics"]["tables.load_ms"] = (hot.load_s - load0) * 1e3
        rec["closes"] = closes(rec)
        self.out(json.dumps({"layers": key, **rec}, sort_keys=True))
        self.records[key].append(rec)
        return rec["wall_ms"] / 1e3, pdf

    def _ok(self) -> list[str]:
        return [k for k in self.keys if k not in self.failed and self.spark_s[k]]

    def _report(self, setup_s: float, peak: tuple[float, float], host: dict) -> dict:
        ok = self._ok()
        total_s = sum(statistics.median(self.spark_s[k]) for k in ok)
        duckdb_s = sum(statistics.median(self.duck_s[k]) for k in ok)
        flat = [t * 1e3 for k in ok for t in self.spark_s[k]]
        e2e = {
            "duckdb_ratio": total_s / duckdb_s if duckdb_s else float("nan"),
            "setup_s": setup_s,
        }
        say = self.out
        say(f"{self.w.name} total_s = {total_s:.6g} s")
        say(f"# workload {self.w.name} seed {self.seed}: {self.passes} passes,"
            f" {len(flat)} timed executions of {len(self.keys)} keys")
        say("# host " + json.dumps(host, sort_keys=True))
        say("# pass seconds: " + " ".join(f"{t:.3f}" for t in self.pass_s))
        for k in ok:
            ms = " ".join(f"{t * 1e3:.1f}" for t in self.spark_s[k])
            say(f"# {k}: median {statistics.median(self.spark_s[k]) * 1e3:.1f} ms of [{ms}],"
                f" duckdb {statistics.median(self.duck_s[k]) * 1e3:.1f} ms")
        for key, why in sorted(self.failed.items()):
            say(f"FAIL {key}: {why}")
        for name, unit in END_TO_END_UNITS.items():
            say(f"{self.w.name} {name} = {e2e[name]:.6g} {unit}")
        if flat:
            say(f"{self.w.name} query_ms_p50 = {statistics.median(flat):.6g} ms  (n={len(flat)})")
        try:
            pct, value = tail(flat)
            say(f"{self.w.name} query_ms_tail = {value:.6g} ms  (p{pct:g} of n={len(flat)})")
        except ValueError:
            say(f"{self.w.name} query_ms_tail = n/a ms  (n={len(flat)}: no percentile"
                f" has {TAIL_BEYOND} samples beyond it)")
        say(f"{self.w.name} fail_frac = {len(self.failed) / len(self.keys):.6g} fraction"
            f" ({len(self.failed)} of {len(self.keys)} keys)")
        say(f"{self.w.name} peak_rss_mb = {sum(peak):.6g} MB"
            f"  (python {peak[0]:.1f} MB + jvm {peak[1]:.1f} MB)")
        if self.trace:
            metrics = self._layer_metrics(total_s, duckdb_s)
        else:
            metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END_UNITS.items()}
        return {
            "correct": not self.failed,
            "attempted": len(self.keys),
            "failed": len(self.failed),
            "metrics": metrics,
        }

    def _layer_metrics(self, untraced_s: float, duckdb_s: float) -> dict:
        """Per-layer run totals: for each key, its median traced
        execution's record; summed over keys."""
        from tracing import LAYERS

        say = self.out
        totals: dict[str, float] = {n: 0.0 for n in PER_LAYER_UNITS}
        n_open = 0
        traced_s = 0.0
        for key in self._ok():
            recs = self.records[key]
            if not recs:
                continue
            rec = sorted(recs, key=lambda r: r["wall_ms"])[(len(recs) - 1) // 2]
            traced_s += statistics.median(self.traced_s[key])
            for name, value in rec["metrics"].items():
                if name in totals:
                    totals[name] += value
            totals["dispatch.self_ms"] += rec["self_ms"]["dispatch"]
            n_open += sum(1 for r in recs if not r["closes"])
            row = "  ".join(f"{lay}={rec['self_ms'][lay]:.1f}" for lay in LAYERS)
            say(f"# layers {key}: wall={rec['wall_ms']:.1f} ms  {row}  closes={rec['closes']}")
        totals["session.start_s"] = self.layer["session.start_s"]
        totals["oracle.duckdb_s"] = duckdb_s
        totals["trace.overhead_ms"] = (traced_s - untraced_s) * 1e3
        totals["probe.errors"] = sum(self.probe_errors.values())
        for layer, count in sorted(self.probe_errors.items()):
            say(f"PROBE ERRORS {layer}: {count} (last: {self.last_probe_error})")
        if n_open:
            self.failed["trace"] = f"{n_open} traced executions do not close"
            say(f"FAIL trace: {n_open} traced executions do not close")
        say(f"# tracing overhead: traced {traced_s:.4f} s - untraced {untraced_s:.4f} s")
        if "tables.cache_fill_s" in self.layer:
            say(f"# tables.cache_fill_s = {self.layer['tables.cache_fill_s']:.4f} s")
        return {n: {"value": totals[n], "unit": u} for n, u in PER_LAYER_UNITS.items()}


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - the JVM must not outlive the run
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    _require_engine()
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    from workloads import workloads

    known = workloads()
    if args.workload not in known:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}; known: {sorted(known)}")
    _contain_scratch()
    result = Runner(known[args.workload], args.seed, args.seconds, bool(args.trace)).run()
    print(json.dumps(result, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
