"""Pipeline benchmark: `near_dup_pipeline` on seeded corpora at local[4].

Usage (from the repository root):

    python3 pipebench/run.py --workload crawl_lowdup --seed 1 --seconds 20 --trace 0

Each process generates its workload's corpus from --seed, writes it as
the `pages` parquet (the only thing the program receives), creates one
SparkSession and runs one untimed cold pipeline run.  It then runs the
pipeline in a closed loop, one run at a time, until --seconds have
passed, with the production config: DedupConfig(jaccard_threshold=0.7,
span_enabled=True), verify_mode='exact', durable parquet checkpoints.

Every run is checked: the output covers exactly the canonical urls,
pair recall and precision against the planted truth meet FLOORS, and
the cluster-assignment digest equals that of the process's cold run.
A run that raises, exceeds RUN_TIMEOUT_S or fails a check counts as
failed.

--trace 0 prints the end-to-end metrics (medians over the timed runs);
--trace 1 alternates untraced and traced runs, then resumes the cold
run's checkpoint after deleting the manifests of the stages from verify
on (the resumed output must equal the fresh one), and prints the
per-layer table (pipebench/trace.py, pipebench/metrics.py).  The last stdout line
is one JSON object: {"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent

# each workload is named after its corpus generator (pipebench/corpus.py)
WORKLOADS = ("crawl_lowdup", "dup_heavy")
# the traced run's resume check deletes these stages' manifests: a job
# that died after the candidate stages
RESUME_DROPPED = ("verify", "spans", "cc", "clusters")
# per-layer figures reported for that resume, as resume.<name>
RESUME_LAYERS = (
    "wall_s", "total.task_s", "ckpt.read_s", "fingerprint.input_s", "cc.rounds",
    "verify.wall_s", "cc.wall_s", "cc.nojob_s",
)
FLOORS = {"pair_recall": 0.99, "pair_precision": 0.99}
RUN_TIMEOUT_S = 120
MASTER = "local[4]"
E2E_UNITS = {
    "wall_s": "s", "docs_per_s": "1/s", "task_s": "s", "setup_s": "s",
    "workers_pss_mb": "MB", "ckpt_mb": "MB", "pair_recall": "ratio",
    "pair_precision": "ratio",
}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class RunFailed(Exception):
    pass


class Bench:
    def __init__(self, args: argparse.Namespace, work: Path):
        self.args = args
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.samples = 0
        self.errors: list[str] = []

    # ---- set-up ----------------------------------------------------
    def make_corpus(self) -> None:
        from pipebench import corpus

        c = corpus.GENERATORS[self.args.workload](self.args.seed)
        corpus.check_margins(c)
        self.pages = self.work / "pages.parquet"
        c.to_parquet(self.pages)
        self.truth = c.label
        self.n_docs = c.n_docs

    def start_spark(self):
        tmp = self.work / "tmp"
        local = self.work / "spark-local"
        tmp.mkdir(parents=True)
        local.mkdir()
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        os.environ["PYSPARK_PYTHON"] = sys.executable
        # keep every temporary file inside the work directory: Python's
        # (cached once used), the spark-submit launcher JVM's and Hadoop's
        os.environ["TMPDIR"] = str(tmp)
        tempfile.tempdir = str(tmp)
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        os.environ["SPARK_LOCAL_DIRS"] = str(local)
        from app_dupfind_spark.config import DedupConfig
        from app_dupfind_spark.session import get_spark

        self.cfg = DedupConfig(jaccard_threshold=0.7, span_enabled=True)
        self.spark = get_spark(
            app_name="pipebench",
            master=MASTER,
            # bench.py's session shape: max(cores, 8) shuffle partitions
            shuffle_partitions=8,
            # the session's own driver heap and collector: only the
            # temporary directories move into the work directory
            extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.local.dir": str(local),
                "spark.hadoop.hadoop.tmp.dir": str(tmp),
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                # keep every job of the process in the status store
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            },
        )
        self.jvm = self.spark.sparkContext._gateway.proc

    def stop_spark(self) -> None:
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        # the JVM exits when its stdin closes; wait for it (and so for
        # its Python workers) to end
        self.jvm.stdin.close()
        try:
            self.jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.jvm.kill()
            self.jvm.wait()

    # ---- one pipeline run -------------------------------------------
    def pipeline(self, ckpt: Path) -> tuple[float, object]:
        """Run the pipeline once; returns (wall seconds, runner).  A
        watchdog cancels the run's jobs after RUN_TIMEOUT_S."""
        from app_dupfind_spark.operators.dedup_pipeline import near_dup_pipeline

        sc = self.spark.sparkContext
        timer = threading.Timer(RUN_TIMEOUT_S, sc.cancelAllJobs)
        timer.start()
        try:
            pages = self.spark.read.parquet(str(self.pages))
            t0 = time.perf_counter()
            _, runner = near_dup_pipeline(
                self.spark, pages, self.cfg, str(ckpt), persist_mode="parquet"
            )
            wall = time.perf_counter() - t0
        finally:
            timer.cancel()
        if wall > RUN_TIMEOUT_S:
            raise RunFailed(f"run took {wall:.1f} s > {RUN_TIMEOUT_S} s")
        return wall, runner

    def check(self, ckpt: Path) -> dict:
        """Read the clusters checkpoint back and check it; returns the
        quality figures and the assignment digest."""
        import pyarrow.parquet as pq

        from pipebench import metrics

        t = pq.read_table(ckpt / "clusters" / "data", columns=["url", "cluster_id"])
        urls, cids = t.column("url").to_pylist(), t.column("cluster_id").to_pylist()
        if len(urls) != len(self.truth) or set(urls) != set(self.truth):
            raise RunFailed(
                f"output covers {len(set(urls))} urls, expected {len(self.truth)}"
            )
        predicted = dict(zip(urls, cids))
        recall, precision = metrics.pair_quality(predicted, self.truth)
        if recall < FLOORS["pair_recall"] or precision < FLOORS["pair_precision"]:
            raise RunFailed(f"pair recall {recall:.4f} / precision {precision:.4f} below floor")
        return {
            "pair_recall": recall,
            "pair_precision": precision,
            "digest": metrics.cluster_digest(zip(urls, cids)),
        }

    def timed(self, ckpt: Path, reference: str) -> dict:
        """One timed run into `ckpt` with its end-to-end figures."""
        from pipebench import sparkstats

        self.jobs.mark()
        with sparkstats.PeakRss(self.jvm.pid) as rss, sparkstats.HeapPeak(self.spark) as heap:
            wall, runner = self.pipeline(ckpt)
        jobs = self.jobs.collect()
        q = self.check(ckpt)
        if q["digest"] != reference:
            raise RunFailed("cluster assignment differs from the set's reference run")
        return {
            "wall_s": wall,
            "docs_per_s": self.n_docs / wall,
            "task_s": sum(j["task_s"] for j in jobs),
            "workers_pss_mb": rss.workers_peak_mb,
            "ckpt_mb": sparkstats.dir_mb(ckpt),
            "pair_recall": q["pair_recall"],
            "pair_precision": q["pair_precision"],
            "runner": runner,
            "jobs": jobs,
            "memory": {
                "mem.peak_rss_mb": rss.peak_mb,
                "mem.jvm_rss_mb": rss.jvm_peak_mb,
                "mem.heap_peak_mb": heap.peak_mb,
            },
        }

    def attempt(self, label: str, fn):
        """Run fn(), counting it; a failure is recorded, not raised."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:
            self.failed += 1
            self.errors.append(f"{label}: {type(e).__name__}: {e}")
            return None

    # ---- the benchmark ------------------------------------------------
    def run(self) -> dict:
        from pipebench import sparkstats, trace

        t_gen = time.monotonic()
        self.make_corpus()
        # set-up runs from process start, less the corpus generation
        # (the benchmark's own work, not the program's)
        t_setup = T_PROCESS + (time.monotonic() - t_gen)
        self.start_spark()
        try:
            self.jobs = sparkstats.JobLog(self.spark)
            tracer = trace.Tracer(self.spark).install() if self.args.trace else None
            cold = self.work / "ckpt-cold"
            self.pipeline(cold)
            reference = self.check(cold)["digest"]
            setup_s = time.monotonic() - t_setup
            if tracer is None:
                shutil.rmtree(cold)
                return self.end_to_end(reference, setup_s)
            try:
                return self.traced(tracer, reference, cold)
            finally:
                tracer.uninstall()
        finally:
            self.stop_spark()

    def end_to_end(self, reference: str, setup_s: float) -> dict:
        """Closed loop of untraced runs for --seconds (at least one);
        each end-to-end metric is the median over the runs."""
        samples: list[dict] = []
        t_loop = time.monotonic()
        k = 0
        while k == 0 or time.monotonic() - t_loop < self.args.seconds:
            ckpt = self.work / f"ckpt-{k}"
            r = self.attempt(f"run {k}", lambda: self.timed(ckpt, reference))
            if r is not None:
                samples.append(r)
            shutil.rmtree(ckpt, ignore_errors=True)
            k += 1
        self.samples = len(samples)
        # a metric with no sample is left out rather than reported as 0
        vals = {"setup_s": setup_s}
        if samples:
            vals.update({
                name: statistics.median([s[name] for s in samples])
                for name in E2E_UNITS if name != "setup_s"
            })
        return {name: {"value": vals[name], "unit": unit}
                for name, unit in E2E_UNITS.items() if name in vals}

    def traced(self, tracer, reference: str, cold: Path) -> dict:
        """Untraced and traced runs alternating U T U T ... U for
        --seconds (at least U T U); then one traced resume of the cold
        run's checkpoint with the manifests of RESUME_DROPPED removed,
        whose output must equal the fresh run's.

        The first warm run is still warming up (JIT, code caches) and is
        ~20% slower than the next, so it is checked but left out of the
        overhead baseline: each traced run is compared with the untraced
        runs after it, which are at most one run warmer."""
        untraced: list[dict] = []
        traced: list[dict] = []
        t_loop = time.monotonic()
        k = 0
        while k < 3 or k % 2 == 0 or time.monotonic() - t_loop < self.args.seconds:
            tracer.reset()
            tracer.active = k % 2 == 1
            ckpt = self.work / f"ckpt-{k}"
            r = self.attempt(f"run {k}", lambda: self.timed(ckpt, reference))
            if r is not None and tracer.active:
                traced.append(self.layers(r, tracer))
            elif r is not None and k > 0:
                untraced.append(r)
            shutil.rmtree(ckpt, ignore_errors=True)
            k += 1

        def resume() -> dict:
            for stage in RESUME_DROPPED:
                (cold / stage / "_manifest.json").unlink()
            return self.layers(self.timed(cold, reference), tracer)

        tracer.reset()
        tracer.active = True
        resumed = self.attempt("resume", resume)
        tracer.active = False
        return self.layer_result(traced, untraced, resumed)

    def layers(self, r: dict, tracer) -> dict:
        from pipebench import metrics

        runner = r["runner"]
        rows = {m["stage"]: int(m["rows_out"]) for m in runner.metrics}
        table = metrics.layer_table(
            tracer.spans, r["jobs"], rows, runner.counters, tracer.cc_rounds, r["memory"]
        )
        table["wall_s"] = r["wall_s"]
        return table

    def layer_result(self, traced: list[dict], untraced: list[dict], resumed: dict | None) -> dict:
        from pipebench import metrics

        # a metric with no sample is left out rather than reported as 0
        self.samples = len(traced)
        out = {}
        for name in metrics.layer_names():
            if name != "trace.overhead_pct" and traced:
                v = statistics.median([t[name] for t in traced])
                out[name] = {"value": v, "unit": metrics.layer_unit(name)}
        if traced and untraced:
            base = statistics.median([u["wall_s"] for u in untraced])
            over = (statistics.median([t["wall_s"] for t in traced]) - base) / base * 100
            out["trace.overhead_pct"] = {"value": over, "unit": "%"}
        for name in RESUME_LAYERS if resumed else ():
            out[f"resume.{name}"] = {"value": resumed[name], "unit": metrics.layer_unit(name)}
        return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "app_dupfind_spark").is_dir():
        print(f"pipebench: no app_dupfind_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".pipebench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True)
    bench = Bench(args, work)
    try:
        result = bench.run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for e in bench.errors:
        print(f"FAILED {e}")
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{bench.samples} samples, {bench.attempted} runs attempted, "
          f"{bench.failed} failed, error_rate {bench.failed / bench.attempted:.4f}")
    for name, m in result.items():
        print(f"  {name:28s} {m['value']:14.4f} {m['unit']}")
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": result,
    }))
    # a failed run must not read as a result, whatever its metrics say
    return 1 if bench.failed else 0


if __name__ == "__main__":
    sys.exit(main())
