"""Seeded geocode benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload reverse_knn --seed 1 --seconds 8 --trace 0

Run from the repository root (the directory holding ``geospark/``). The run

1. generates the workload's inputs from ``--seed`` (cached under
   ``.perfbench/inputs/``, keyed by workload, input seed and size;
   generation is not timed). The input seed is ``--seed`` modulo
   ``INPUT_SETS``: any seed selects one of that many input sets, each with
   its output digests committed in pins.json,
2. sets up ``SETUP_REPS`` times -- Spark session, ETL and geocoder tables,
   staged inputs -- and reports the median as ``setup_s``,
3. runs ``WARM_PASSES`` untimed warm passes (pass walls keep falling over
   the first few passes of a session), the first of which has its outputs
   checked independently (brute force, planted pairs; see workloads.py),
4. runs timed passes for ``--seconds`` (at least ``MIN_TIMED_PASSES``) and
   reports items per second over the median pass wall.

Every pass's output digests must equal the ones committed in pins.json for
(workload, input seed, size); a key with no pin there fails the run's first pass,
and the later passes are held to that pass's digests (pin.py adds pins).
``--trace 1`` instead sets up once with the Spark event log on,
alternates untraced and traced passes, runs the workload's traced-only
sections and reports per-layer metrics (layers.py). The last stdout line is
the result object; details of the run go to ``.perfbench/runs/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
# set-ups per run; the first also starts the JVM and runs every code path
# cold (~2.5x a warm one). Three did not fit a campaign's time budget
# (4 + 22 x workloads runs in 3,420 s): a warm geocode set-up alone is ~13 s.
SETUP_REPS = 2
# untimed passes before timing: with one, the timed passes still fell by a
# fifth from the first to the fourth as the JVM warmed up
WARM_PASSES = 3
# passes after the warm-up agreed within a few percent, so three timed passes
# suffice; the drift that remains is between runs
MIN_TIMED_PASSES = 3
MAX_FAILURES = 3  # failed passes after which a run stops timing
PINS = os.path.join(HERE, "pins.json")
# input sets per workload and size: --seed selects set ``seed % INPUT_SETS``.
# pins.json holds the digests of sets 0-99 at bench size, so every seed is
# checked against a committed pin.
INPUT_SETS = 100


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["reverse_knn", "dedup_docs"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["bench", "tiny"], default="bench")
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment() -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and let the workers import geospark from it."""
    for d in ("spark-local", "tmp", "eventlog", "runs", "inputs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    # no hsperfdata: the JVM would write it to /tmp whatever java.io.tmpdir
    # is. Fixed heap geometry: with G1 sizing a growable heap, peak RSS
    # swung by a fifth between runs of the same inputs.
    os.environ["GEOSPARK_JAVA_OPTS"] = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                        "-Xms3g -Xmn256m")
    os.environ["GEOSPARK_DRIVER_MEM"] = "3g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)


def start_spark(app: str, event_log: str | None = None):
    from geospark.session import get_spark

    conf = {"spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false"}
    if event_log:
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_log,
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false"})
    n = cores()
    spark = get_spark(app, master=f"local[{n}]", shuffle_partitions=2 * n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, final: bool = False) -> None:
    """Stop the session; with ``final``, also end the JVM the session ran in
    and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if final and gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fp:
        for line in fp:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc status")


def pin_key(workload: str, seed: int, size: str) -> str:
    return f"{workload}|{seed}|{size}"


def load_pins() -> dict:
    with open(PINS) as fp:
        return json.load(fp)


class Runner:
    def __init__(self, args):
        from perfbench import gen
        from perfbench.workloads import WORKLOADS

        self.args = args
        input_seed = args.seed % INPUT_SETS
        self.inputs = gen.input_dir(os.path.join(WORK, "inputs"), args.workload,
                                    input_seed, args.size)
        self.wl = WORKLOADS[args.workload](self.inputs, cores())
        self.key = pin_key(args.workload, input_seed, args.size)
        self.pins = load_pins().get(self.key)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.record: dict = dict(workload=args.workload, seed=args.seed,
                                 input_seed=input_seed, size=args.size,
                                 trace=args.trace, cores=cores())

    def one_pass(self, spark, st, tracer, check: bool = False):
        """Run and verify one pass. Returns (wall seconds, or None if the pass
        raised, check ratios). A pass whose outputs fail a check is counted
        failed but keeps its wall: the run reports its timings with
        ``correct: false``."""
        self.attempted += 1
        wall = None
        t0 = time.perf_counter()
        try:
            outs = self.wl.run_pass(spark, st, tracer, keep=check)
            wall = time.perf_counter() - t0
            fails, ratios = self.wl.check(spark, st, outs) if check else ([], {})
        except Exception:  # a raising pass is a failed operation, not a crash
            fails, ratios = ["pass raised:\n" + traceback.format_exc()], {}
            outs, wall = {}, None
        digests = {k: v["digest"] for k, v in outs.items()}
        if self.pins is None and outs:
            # no committed pin: this pass fails, and later passes must
            # repeat its digests
            fails.append(f"no pin for {self.key} in pins.json")
            self.pins = digests
        elif outs and digests != self.pins:
            fails.append(f"digest mismatch: got {digests}, pinned {self.pins}")
        if fails:
            self.failed += 1
            self.failures += fails
        return wall, ratios

    def run_sections(self, spark, st, tracer, ratios: dict) -> None:
        """The workload's traced-only sections, each counted as one
        attempted operation; a raising section ends them."""
        try:
            for section, fails, more in self.wl.traced_sections(spark, st, tracer):
                self.attempted += 1
                ratios.update(more)
                if fails:
                    self.failed += 1
                    self.failures += [f"{section}: {f}" for f in fails]
        except Exception:  # a raising section is a failed operation, not a crash
            self.attempted += 1
            self.failed += 1
            self.failures.append("traced section raised:\n" + traceback.format_exc())

    def measured(self) -> dict:
        from perfbench.trace import Tracer

        off = Tracer(False)
        setups = []
        spark = None
        try:
            for _ in range(SETUP_REPS):
                if spark is not None:
                    stop_spark(spark)
                t0 = time.perf_counter()
                spark = start_spark(f"perfbench-{self.wl.name}")
                st = self.wl.setup(spark, off)
                setups.append(time.perf_counter() - t0)
            for i in range(WARM_PASSES):
                self.one_pass(spark, st, off, check=i == 0)
            walls = []
            t_end = time.perf_counter() + self.args.seconds
            while ((time.perf_counter() < t_end or len(walls) < MIN_TIMED_PASSES)
                   and self.failed < MAX_FAILURES):
                wall, _ = self.one_pass(spark, st, off)
                if wall is not None:
                    walls.append(wall)
            rss = jvm_peak_rss_mb(spark)
        finally:
            if spark is not None:
                stop_spark(spark, final=True)
        self.record.update(setup_s=setups, pass_s=walls, peak_rss_mb=rss)
        if not walls:
            raise RuntimeError("every pass raised:\n" + "\n".join(self.failures))
        return {
            "setup_s": {"value": statistics.median(setups), "unit": "s"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
            "items_per_s": {"value": self.wl.items / statistics.median(walls), "unit": "1/s"},
        }

    def traced(self) -> dict:
        from perfbench import layers
        from perfbench.trace import Tracer, read_event_log, span_spark_metrics

        log_dir = os.path.join(WORK, "eventlog", f"{self.wl.name}-s{self.args.seed}-{os.getpid()}")
        os.makedirs(log_dir)
        on, off = Tracer(True), Tracer(False)
        spark = None
        try:
            with on.span("setup"):
                with on.span("session.get_spark"):
                    spark = start_spark(f"perfbench-trace-{self.wl.name}", event_log=log_dir)
                st = self.wl.setup(spark, on)
            _, ratios = self.one_pass(spark, st, off, check=True)
            plain, traced = [], []
            t_end = time.perf_counter() + self.args.seconds
            while (time.perf_counter() < t_end or not traced) and self.failed < MAX_FAILURES:
                wall, _ = self.one_pass(spark, st, off)
                if wall is not None:
                    plain.append(wall)
                with on.span("pass") as root:
                    wall, _ = self.one_pass(spark, st, on)
                if wall is not None:
                    traced.append(root["end"] - root["start"])
            self.run_sections(spark, st, on, ratios)
        finally:
            if spark is not None:
                stop_spark(spark, final=True)
        if not plain or not traced:
            raise RuntimeError("every pass raised:\n" + "\n".join(self.failures))

        spark_m = span_spark_metrics(on.spans, read_event_log(log_dir))
        shutil.rmtree(log_dir)
        names = {s["id"]: s["name"] for s in on.spans}
        parts = [s for s in on.spans if s["parent"] is not None
                 and names[s["parent"]] == "breakdown"]
        # span name -> per-occurrence metrics; the breakdown's top-1 forward
        # and reverse calls count only where no other call of the name ran
        named: dict = {}
        for s in sorted(on.spans, key=lambda s: s in parts):
            if s["name"] in layers.LAYER_MAP and not (s in parts and s["name"] in named):
                named.setdefault(s["name"], []).append(dict(
                    spark_m.get(s["id"], {}), wall_s=s["end"] - s["start"],
                    rows_out=s["rows_out"]))
        metrics = {}
        for name, unit in layers.per_layer_metrics():
            span, _, field = name.rpartition(".")
            vals = [m.get(field, 0) for m in named.get(span, [])]
            metrics[name] = {"value": statistics.mean(vals) if vals else 0.0, "unit": unit}
        for name, v in ratios.items():
            metrics[name] = {"value": v, "unit": "ratio"}
        metrics["trace.overhead_ratio"] = {
            "value": statistics.median(traced) / statistics.median(plain), "unit": "ratio"}
        if parts:
            composed = statistics.mean(m["wall_s"] for m in named["mine.geocode_pages"])
            metrics[layers.PARTS_GAP] = {
                "value": composed - sum(s["end"] - s["start"] for s in parts), "unit": "s"}
        on.write(os.path.join(WORK, "runs", f"spans-{self.wl.name}-s{self.args.seed}.json"))
        self.record.update(plain_pass_s=plain, traced_pass_s=traced, layer_map=layers.LAYER_MAP)
        return metrics

    def run(self) -> dict:
        load_at_launch = os.getloadavg()[0]
        metrics = self.traced() if self.args.trace else self.measured()
        self.record.update(load_at_launch=load_at_launch, load_at_end=os.getloadavg()[0],
                           attempted=self.attempted, failures=self.failures,
                           pins=self.pins)
        with open(os.path.join(WORK, "runs", f"{self.wl.name}-s{self.args.seed}"
                               f"-t{self.args.trace}.json"), "w") as fp:
            json.dump(self.record, fp, indent=1, sort_keys=True)
        for f in self.failures:
            print("FAILED: " + f, file=sys.stderr)
        return {"correct": not self.failures, "attempted": self.attempted,
                "failed": self.failed, "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "geospark")):
        print(f"perfbench: no geospark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    prepare_environment()
    result = Runner(args).run()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
