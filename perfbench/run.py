"""Benchmark of the minimel_spark record-linkage and dedup jobs.

    python3 perfbench/run.py --workload er_hot --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. One Python process and Spark session, one
client, closed loop: ``local[nproc]`` runs one job at a time. A run starts a
session, generates its inputs from ``--seed``, runs an untimed warm-up pass
(charged to ``setup_s``), then repeats timed iterations until ``--seconds``
have passed (at least one). Each iteration runs the job on a fresh work
directory, checks its output against plain-Python references, and resumes it
from its checkpoints. The last line of stdout is one JSON object: end-to-end
metrics (medians over iterations) with ``--trace 0``, per-layer metrics from
spans and Spark's status store with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import checks  # noqa: E402
import proctree  # noqa: E402
import worlds  # noqa: E402
from spans import FIELDS, LAYERS, STAGE_LAYERS, Tracer, traced_pipeline  # noqa: E402

DRIVER_MEM = "2g"
ER_PAGES = 120
DUP_DOCS = 250
DUP_THRESHOLD = 0.5
MIN_REF_F1 = 0.99

E2E_UNITS = {
    "setup_s": "s", "job_s": "s", "resume_s": "s", "cpu_core_s": "s",
    "peak_rss_mb": "MB", "ref_pair_f1": "1", "truth_f1": "1",
    "resume_equal": "1", "ok_frac": "1",
}
LAYER_UNITS = {
    "wall_s": "s", "spark_jobs": "count", "tasks": "count", "task_run_s": "s",
    "task_cpu_s": "s", "wait_s": "s", "gc_s": "s", "shuffle_mb": "MB",
    "rows_out": "count",
}
EXTRA_UNITS = {
    "blocking.pairs_per_record": "1", "blocking.max_name_records": "count",
    "scoring.pairs_per_s": "1/s",
    "scoring.match_ratio": "1", "checkpoint.write_mb": "MB",
    "checkpoint.read_s": "s", "dedup.verify_ratio": "1",
    "traced.job_s": "s", "traced.resume_s": "s", "span_coverage": "1",
}


def nospan(name, layer):
    return contextlib.nullcontext()


def digest(df, keys):
    """Order-free digest of a table (the program's lineage witness)."""
    from minimel_spark.sources.checkpoint import logical_lineage

    return sorted(tuple(r) for r in logical_lineage(df, keys).collect())


def du_mb(path: Path) -> float:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file()) / 2**20


class ErHot:
    """Full ``run_pipeline`` with a workdir over the hot-family crawl world,
    then a resume that recomputes ``scored_pairs`` and ``er_clusters`` from the
    eight earlier checkpoints."""

    TAIL = ("scored_pairs", "er_clusters")
    # resumes per iteration (resume_s is their median): one ER resume costs
    # ~8 s, and the run budget of 24 runs per workload leaves room for one
    RESUMES = 1

    def __init__(self, spark, seed: int, work: Path):
        self.spark = spark
        pages, self.planted = worlds.er_pages(ER_PAGES, seed)
        cols = "url string, warc_ts timestamp, html binary, text string, lang string"
        spark.createDataFrame(pages, cols).write.parquet(str(work / "pages"))
        spark.createDataFrame(worlds.title_index_rows(), "title string, qid long").write.parquet(
            str(work / "titles")
        )
        self.pages = spark.read.parquet(str(work / "pages"))
        self.titles = spark.read.parquet(str(work / "titles"))

    def _run(self, d: Path) -> dict:
        from minimel_spark.pipeline import run_pipeline

        return run_pipeline(self.spark, self.pages, self.titles, workdir=str(d))

    def _resume(self, d: Path) -> tuple[float, dict]:
        for stage in self.TAIL:
            shutil.rmtree(d / stage)
        t0 = time.perf_counter()
        out = self._run(d)
        return time.perf_counter() - t0, out

    def warm_up(self, d: Path) -> None:
        self._run(d)

    def iteration(self, d: Path, tracer: Tracer | None) -> dict:
        n0 = len(tracer.spans) if tracer else 0
        cpu0, t0 = proctree.cpu_seconds(), time.perf_counter()
        out = self._run(d)
        res = {"job_s": time.perf_counter() - t0, "cpu_core_s": proctree.cpu_seconds() - cpu0}
        n_pass = len(tracer.spans) if tracer else 0
        fresh = digest(out["er_clusters"], ["rec_id", "cluster_id"])
        res.update(self.check(out))
        if tracer:
            res["layers"] = self.layer_rows(out, d)
        times, equal = [], True
        for _ in range(self.RESUMES):
            secs, out = self._resume(d)
            times.append(secs)
            equal &= digest(out["er_clusters"], ["rec_id", "cluster_id"]) == fresh
        res["resume_s"] = statistics.median(times)
        res["resumes"] = len(times)
        res["resume_equal"] = float(equal)
        res["spans"] = (n0, n_pass, len(tracer.spans) if tracer else 0)
        return res

    def check(self, out: dict) -> dict:
        import pyspark.sql.functions as F
        from minimel_spark.pipeline import PipelineConfig

        name_scores = {}
        for r in out["candidates"].select("anchor", "qid", "weight").collect():
            name_scores.setdefault(r["anchor"], {})[r["qid"]] = r["weight"]
        ref = checks.reference_name_clusters(name_scores)
        got = {r["anchor"]: r["cluster_id"] for r in out["name_clusters"].collect()}
        name_f1 = checks.f1(*checks.partition_pair_scores(got, ref)) if got.keys() == ref.keys() else 0.0
        # er_clusters vs the transitive closure of the committed match decisions
        pred = {r["rec_id"]: r["cluster_id"] for r in out["er_clusters"].collect()}
        threshold = PipelineConfig().match_threshold
        edges = [
            (r["rec_id_a"], r["rec_id_b"])
            for r in out["scored_pairs"].select("rec_id_a", "rec_id_b", "score").collect()
            if r["score"] > threshold
        ]
        nodes = set(pred).union(*edges)
        closure = checks.components(nodes, edges)
        cc_f1 = checks.f1(*checks.partition_pair_scores(pred, closure)) if nodes == pred.keys() else 0.0
        # records are keyed the way the pipeline derives rec_id
        recs = out["mentions"].select(
            F.xxhash64("url", "par_id", "start"), "url", "par_id", "start", "surface"
        ).collect()
        truth = checks.record_truth([tuple(r) for r in recs], self.planted)
        ref_f1 = min(name_f1, cc_f1)
        return {
            "ref_pair_f1": ref_f1,
            "truth_f1": checks.f1(*checks.bcubed_scores(pred, truth)),
            "ok": ref_f1 >= MIN_REF_F1 and pred.keys() == truth.keys() and len(pred) > 0,
        }

    def layer_rows(self, out: dict, d: Path) -> dict:
        """Rows committed per stage, and the ratios only the trace reports."""
        from minimel_spark.operators.scoring import match_edges
        from minimel_spark.pipeline import PipelineConfig

        rows = {
            r["stage"]: r["rows"]
            for r in out["metrics"].groupBy("stage").sum("rows").withColumnRenamed("sum(rows)", "rows").collect()
        }
        per_layer = {}
        for stage, layer in STAGE_LAYERS.items():
            per_layer[layer] = per_layer.get(layer, 0) + rows.get(stage, 0)
        per_layer["checkpoint"] = sum(rows.values())
        n_edges = match_edges(out["scored_pairs"], PipelineConfig().match_threshold).count()
        largest = out["records"].groupBy("name").count().agg({"count": "max"}).first()[0]
        return {
            "rows": per_layer,
            "blocking.pairs_per_record": rows["pairs"] / max(rows["records"], 1),
            "blocking.max_name_records": largest,
            "scored_pairs": rows["scored_pairs"],
            "scoring.match_ratio": n_edges / max(rows["scored_pairs"], 1),
            "checkpoint.write_mb": du_mb(d),
        }


class NearDup:
    """``minhash_dups`` over crawl documents and their re-crawled snapshots.

    The job is the full call. Its resume is the program's batch-reuse path:
    the shingle table ``dedup._shingled`` builds is committed once (untimed),
    and each resume recomputes the verified pairs from it with
    ``minhash_dups(shingled=...)``."""

    # a resume is ~1.5 s, so host noise moves one by up to a fifth; the
    # median of three also drops the first resume, which compiles its plans
    RESUMES = 3

    def __init__(self, spark, seed: int, work: Path):
        self.spark = spark
        docs, self.planted = worlds.dup_docs(DUP_DOCS, seed)
        self.texts = dict(docs)
        parts = 2 * len(os.sched_getaffinity(0))
        spark.createDataFrame(docs, "doc_id long, text string").repartition(parts).write.parquet(
            str(work / "docs")
        )
        self.docs = spark.read.parquet(str(work / "docs"))
        self._reference = None

    def _job(self, d: Path, span) -> None:
        from minimel_spark.operators.dedup import minhash_dups

        with span("minhash_dups", "dedup"):
            minhash_dups(self.docs, threshold=DUP_THRESHOLD).write.parquet(str(d / "dup_pairs"))

    def _commit_shingles(self, d: Path) -> None:
        from minimel_spark.operators.dedup import _shingled

        _shingled(self.docs, "text", "doc_id", worlds.SHINGLE_N).write.parquet(str(d / "shingles"))

    def _resume(self, d: Path, span) -> float:
        from minimel_spark.operators.dedup import minhash_dups

        shutil.rmtree(d / "dup_pairs")
        t0 = time.perf_counter()
        with span("minhash_dups", "dedup"):
            sh = self.spark.read.parquet(str(d / "shingles"))
            minhash_dups(self.docs, threshold=DUP_THRESHOLD, shingled=sh).write.parquet(
                str(d / "dup_pairs")
            )
        return time.perf_counter() - t0

    def warm_up(self, d: Path) -> None:
        self._job(d, nospan)

    def iteration(self, d: Path, tracer: Tracer | None) -> dict:
        span = tracer.span if tracer else nospan
        n0 = len(tracer.spans) if tracer else 0
        cpu0, t0 = proctree.cpu_seconds(), time.perf_counter()
        self._job(d, span)
        res = {"job_s": time.perf_counter() - t0, "cpu_core_s": proctree.cpu_seconds() - cpu0}
        n_pass = len(tracer.spans) if tracer else 0
        dups = self.spark.read.parquet(str(d / "dup_pairs"))
        fresh = digest(dups, ["id_a", "id_b", "jaccard"])
        res.update(self.check(dups))
        self._commit_shingles(d)
        if tracer:
            from minimel_spark.operators.dedup import minhash_dups

            n_dups = dups.count()
            n_cand = minhash_dups(
                self.docs, threshold=0.0, shingled=self.spark.read.parquet(str(d / "shingles"))
            ).count()
            res["layers"] = {"rows": {"dedup": n_dups}, "dedup.verify_ratio": n_dups / max(n_cand, 1)}
        times, equal = [], True
        for _ in range(self.RESUMES):
            times.append(self._resume(d, span))
            dups = self.spark.read.parquet(str(d / "dup_pairs"))
            equal &= digest(dups, ["id_a", "id_b", "jaccard"]) == fresh
        res["resume_s"] = statistics.median(times)
        res["resumes"] = len(times)
        res["resume_equal"] = float(equal)
        res["spans"] = (n0, n_pass, len(tracer.spans) if tracer else 0)
        return res

    def check(self, dups) -> dict:
        if self._reference is None:
            shingled = [(i, worlds.shingles(t)) for i, t in self.texts.items()]
            self._reference = checks.jaccard_pairs(shingled, DUP_THRESHOLD)
        ref = self._reference
        got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in dups.collect()}
        exact = all(abs(j - ref[p]) < 1e-9 for p, j in got.items() if p in ref)
        ref_f1 = checks.f1(*checks.set_scores(set(got), set(ref)))
        return {
            "ref_pair_f1": ref_f1,
            "truth_f1": checks.f1(*checks.set_scores(set(got), self.planted)),
            "ok": exact and ref_f1 >= MIN_REF_F1,
        }


WORKLOADS = {"near_dup": NearDup, "er_hot": ErHot}


def layer_metrics(tracer: Tracer, results: list[dict]) -> dict:
    """Per-layer metrics of each traced iteration, as medians."""
    per_iter = []
    for res in results:
        n0, n_pass, n_all = res["spans"]
        wall = tracer.self_times(n0, n_pass)
        spark = tracer.spark_counters(n0, n_pass)
        extra = res["layers"]
        m = {}
        for layer in LAYERS:
            c = spark.get(layer, dict.fromkeys(FIELDS, 0.0))
            m[f"{layer}.wall_s"] = wall.get(layer, 0.0)
            for f in FIELDS:
                m[f"{layer}.{f}"] = c[f]
            m[f"{layer}.wait_s"] = c["task_run_s"] - c["task_cpu_s"]
            m[f"{layer}.rows_out"] = extra["rows"].get(layer, 0)
        m["blocking.pairs_per_record"] = extra.get("blocking.pairs_per_record", 0.0)
        m["blocking.max_name_records"] = extra.get("blocking.max_name_records", 0)
        scoring_s = m["scoring.wall_s"]
        m["scoring.pairs_per_s"] = extra.get("scored_pairs", 0) / scoring_s if scoring_s else 0.0
        m["scoring.match_ratio"] = extra.get("scoring.match_ratio", 0.0)
        m["checkpoint.write_mb"] = extra.get("checkpoint.write_mb", 0.0)
        resume = tracer.spans[n_pass:n_all]
        m["checkpoint.read_s"] = sum(
            s["end"] - s["start"] for s in resume if s["name"].startswith("read:")
        ) / res["resumes"]
        m["dedup.verify_ratio"] = extra.get("dedup.verify_ratio", 0.0)
        m["traced.job_s"] = res["job_s"]
        m["traced.resume_s"] = res["resume_s"]
        m["span_coverage"] = sum(wall.get(layer, 0.0) for layer in LAYERS) / res["job_s"]
        per_iter.append(m)
    return {k: statistics.median(m[k] for m in per_iter) for k in per_iter[0]}


def units(name: str) -> str:
    if name in E2E_UNITS:
        return E2E_UNITS[name]
    return EXTRA_UNITS.get(name) or LAYER_UNITS[name.split(".", 1)[1]]


def pin_environment(work: Path) -> dict[str, str]:
    """The session settings the benchmark pins, through the program's inputs."""
    cpus = str(len(os.sched_getaffinity(0)))
    env = {
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(work / "tmp"),
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
    }
    os.environ.update(env)
    (work / "tmp").mkdir(parents=True)
    return {
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        from pyspark import SparkContext

        from minimel_spark.session import get_spark
    except ImportError as e:
        print(f"cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    conf = pin_environment(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(f"bench-{args.workload}", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        wl = WORKLOADS[args.workload](spark, args.seed, work / "input")
        wl.warm_up(work / "warmup")
        setup_s = time.perf_counter() - t0
        print("setup_s", setup_s, file=sys.stderr, flush=True)

        tracer = Tracer(spark.sparkContext) if args.trace else None
        results, attempted, failed = [], 0, 0
        with traced_pipeline(tracer) if tracer else contextlib.nullcontext():
            start = time.perf_counter()
            while attempted == 0 or time.perf_counter() - start < args.seconds:
                attempted += 1
                try:
                    res = wl.iteration(work / f"iter{attempted}", tracer)
                except Exception:  # a failed iteration counts, and the run goes on
                    traceback.print_exc()
                    failed += 1
                    continue
                results.append(res)
                failed += not (res["ok"] and res["resume_equal"] == 1.0)
                print("iteration", {k: v for k, v in res.items() if k not in ("layers", "spans")}, file=sys.stderr, flush=True)
        if not results:
            raise RuntimeError(f"all {attempted} iterations failed")
        peak_rss = proctree.peak_rss_mb()

        if tracer:
            metrics = layer_metrics(tracer, results)
        else:
            med = lambda k: statistics.median(r[k] for r in results)  # noqa: E731
            metrics = {
                "setup_s": setup_s,
                "peak_rss_mb": peak_rss,
                "ok_frac": (attempted - failed) / attempted,
                **{k: med(k) for k in (
                    "job_s", "resume_s", "cpu_core_s", "ref_pair_f1", "truth_f1",
                    "resume_equal",
                )},
            }
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units(k)} for k, v in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            gateway = SparkContext._gateway
            spark.stop()
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
