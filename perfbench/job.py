"""spark-submit driver for one benchmark launch (started by perfbench/run.py).

    spark-submit --py-files engine.zip perfbench/job.py <spec.json>

Times set-up first: launch -> session ready -> first UDF job done (Python
workers spawned). Then, by ``spec["mode"]``:

  measure  the workload's warm runs (checked, untimed), then a closed loop
           (one job at a time) of timed runs. Each run is prepared untimed
           (output root emptied or restored), timed, sampled for CPU and RSS
           of the whole process tree, and checked for correctness untimed.
  trace    the warm runs, then the per-layer probes, each round ending with
           the workload untraced and then traced, with Spark's event log
           on, then the single-process kernel probe.

Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import time
from pathlib import Path

import pyarrow.parquet as pq

import check
import procfs
from spans import Tracer

# Untimed, checked runs before the timed ones: a launch's first runs still
# compile and load code. The resume workload's committed snapshot is itself
# built by a cold extraction, and curate_corpus's cold run alone costs about
# three warm ones, so they get one.
WARM_RUNS = {"crawl_extract": 2, "crawl_resume_skewed": 1, "curate_corpus": 1}
# Nominal seconds of one timed run on a 4-core box. The number of timed runs
# is --seconds over this, at least MIN_TIMED_RUNS, so it does not depend on
# how fast a launch happens to run (runs keep speeding up within a launch,
# and a count set by the clock would give slow launches fewer, earlier runs).
NOMINAL_RUN_S = {"crawl_extract": 2.7, "crawl_resume_skewed": 1.8,
                 "curate_corpus": 5.0}
MIN_TIMED_RUNS = 3
# rounds of the probes; even, because each round runs the workload untraced
# and traced in alternating order (the second of two runs is faster)
PROBE_REPS = 4
KERNEL_SAMPLE = {"crawl_extract": 2000, "crawl_resume_skewed": 500,
                 "curate_corpus": 0}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _identity(batches):
    yield from batches


class Workload:
    """Prepare / run / check for one workload on one session."""

    def __init__(self, spark, spec: dict):
        self.spark = spark
        self.name = spec["workload"]
        self.inputs = Path(spec["inputs"])
        self.work = Path(spec["work"])
        self.out = self.work / "out"
        self.pristine = self.work / "pristine"
        self.meta = json.loads((self.inputs / "meta.json").read_text())
        self.rows = self.meta["rows"]
        self.digest = None
        if self.name == "curate_corpus":
            self.docs = spark.read.parquet(str(self.inputs / "documents"))
            self.bench = spark.read.parquet(str(self.inputs / "benchmark"))
            self.input_ids = set(range(self.rows))
        else:
            from llmap_spark.plans.pipeline import ExtractConfig

            self.pages = spark.read.parquet(str(self.inputs / "pages"))
            # the resume workload uses the explicit salted url-hash
            # repartition; the fresh crawl keeps the map-only default
            self.salted = ExtractConfig(repartition=2 * spec["cores"])
            self.cfg = (self.salted if self.name == "crawl_resume_skewed"
                        else ExtractConfig())
            self.expected = pq.read_table(spec["oracle"])
            if self.name == "crawl_resume_skewed":
                self._build_committed()

    def _build_committed(self) -> None:
        """Commit the pre-existing snapshot once per launch and keep a copy;
        every run restores the output root from it. Manifests hold absolute
        paths, so the copy is restored to the same place."""
        from llmap_spark.sources.snapshot import run_extract_job

        committed = self.spark.read.parquet(str(self.inputs / "committed_pages"))
        run_extract_job(self.spark, committed, str(self.out), self.cfg)
        shutil.copytree(self.out, self.pristine)

    def prepare(self) -> None:
        from llmap_spark.cache import release_persisted

        release_persisted()
        shutil.rmtree(self.out, ignore_errors=True)
        if self.name == "crawl_resume_skewed":
            shutil.copytree(self.pristine, self.out)

    def run(self):
        if self.name == "curate_corpus":
            from llmap_spark.plans.training import curated_corpus

            curated_corpus(self.docs, benchmark=self.bench) \
                .write.mode("overwrite").parquet(str(self.out))
            return None
        from llmap_spark.sources.snapshot import run_extract_job

        return run_extract_job(self.spark, self.pages, str(self.out), self.cfg)

    def check(self) -> tuple[int, dict]:
        if self.name != "curate_corpus":
            return check.check_crawl(self.out, self.expected)
        failed, detail, digest = check.check_curate(
            self.out, self.input_ids, self.meta["exact_copies"])
        if self.digest is None:
            self.digest = digest
        elif digest != self.digest:
            failed += detail["rows"]
            detail["digest_changed"] = True
        return failed, detail


def failed_task_attempts(sc, group: str) -> int:
    """Failed task attempts of every stage of every job in ``group``."""
    st = sc.statusTracker()
    n = 0
    for jid in st.getJobIdsForGroup(group):
        job = st.getJobInfo(jid)
        for sid in job.stageIds if job else ():
            info = st.getStageInfo(sid)
            n += info.numFailedTasks if info else 0
    return n


def start_session(spec: dict) -> tuple[object, dict]:
    """get_spark + the first UDF job. Returns (spark, session layer times)."""
    from llmap_spark.session import get_spark, scan_conf_for

    src = Path(spec["inputs"]) / ("documents" if spec["workload"] == "curate_corpus"
                                  else "pages")
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{spec['workload']}",
                      cores=spec["cores"],
                      extra_conf=scan_conf_for(str(src), spec["cores"]))
    t1 = time.perf_counter()
    spark.sparkContext.setJobDescription("session.warmup")
    _noop(spark.range(0, 4096, 1, spec["cores"])
          .mapInArrow(_identity, schema="id long"))
    spark.sparkContext.setJobDescription(None)
    t2 = time.perf_counter()
    return spark, {"session.get_spark_s": t1 - t0, "session.warmup_s": t2 - t1}


def timed_runs(wl: Workload, n_timed: int) -> list[dict]:
    """The workload's WARM_RUNS, then a closed loop of ``n_timed`` timed
    runs."""
    sc = wl.spark.sparkContext
    root = os.getppid()  # the driver JVM; the Python workers are its children
    n_warm = WARM_RUNS[wl.name]
    runs: list[dict] = []
    while len(runs) < n_warm + n_timed:
        group = f"run-{len(runs)}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        wl.prepare()
        sampler = procfs.RssSampler(root)
        cpu0 = procfs.tree_cpu_s(root)
        sampler.start()
        t0 = time.perf_counter()
        try:
            wl.run()
            err = None
        except Exception as e:  # a failed job fails every row it attempted
            err = repr(e)[:500]
        wall = time.perf_counter() - t0
        peak = sampler.stop()
        cpu = procfs.tree_cpu_s(root) - cpu0
        sc.setLocalProperty("spark.jobGroup.id", None)
        c0 = time.perf_counter()
        if err is None:
            failed, detail = wl.check()
        else:
            failed, detail = wl.rows, {"error": err}
        failed += failed_task_attempts(sc, group)
        runs.append({"wall_s": wall, "cpu_s": cpu, "peak_rss_mb": peak,
                     "failed": failed, "attempted": wl.rows, "detail": detail,
                     "warm": len(runs) < n_warm,
                     "check_s": time.perf_counter() - c0})
    return runs


# ---------------------------------------------------------------- traced run

def kernel_probe(pages_dir: Path, seed: int, n_sample: int,
                 batch_rows: int) -> dict:
    """Single-process timings of the kernel's public functions and of the
    fused Arrow adapter, on a seeded sample of the workload's pages."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from llmap_spark import kernel
    from llmap_spark.functions.extract_udfs import extract_fused_arrow

    names = ("kernel.decode_s_per_kpage", "kernel.parse_blocks_s_per_kpage",
             "kernel.classify_s_per_kpage", "kernel.stitch_s_per_kpage",
             "kernel.pages_per_s_1core", "kernel.blocks_per_page",
             "kernel.candidate_frac", "kernel.kept_frac", "kernel.gated_frac",
             "extract_udfs.fused_s_per_kpage", "extract_udfs.adapter_frac",
             "extract_udfs.out_bytes_per_page")
    if n_sample == 0:
        return dict.fromkeys(names, 0.0)
    t = pq.read_table(pages_dir, columns=["url", "warc_ts", "html", "lang"])
    idx = sorted(random.Random(seed).sample(range(t.num_rows), n_sample))
    t = t.take(idx)
    htmls = t.column("html").to_pylist()
    dec_s = parse_s = cls_s = st_s = 0.0
    blocks_n = cand_n = kept_n = gated = 0
    clock = time.perf_counter
    for h in htmls:
        a = clock()
        dec = kernel.decode_html(h)
        b = clock()
        blocks, _, _ = kernel.parse_blocks(dec.text)
        c = clock()
        dec_s += b - a
        parse_s += c - b
        blocks_n += len(blocks)
        n_cand = sum(1 for x in blocks if x.candidate)
        cand_n += n_cand
        if not n_cand:  # extract_page's coarse gate: no classify/stitch
            gated += 1
            continue
        c = clock()
        keep = kernel.classify(blocks)
        d = clock()
        kernel.stitch(blocks, keep)
        e = clock()
        cls_s += d - c
        st_s += e - d
        kept_n += sum(keep)
    a = clock()
    for h in htmls:
        kernel.extract_page(h)
    page_s = clock() - a

    t = t.append_column("salt_bucket", pa.array([0] * t.num_rows, pa.int32()))
    batches = t.to_batches(max_chunksize=batch_rows)
    a = clock()
    out = list(extract_fused_arrow(iter(batches)))
    fused_s = clock() - a
    k = n_sample / 1000
    return {
        "kernel.decode_s_per_kpage": dec_s / k,
        "kernel.parse_blocks_s_per_kpage": parse_s / k,
        "kernel.classify_s_per_kpage": cls_s / k,
        "kernel.stitch_s_per_kpage": st_s / k,
        "kernel.pages_per_s_1core": n_sample / page_s,
        "kernel.blocks_per_page": blocks_n / n_sample,
        "kernel.candidate_frac": cand_n / max(1, blocks_n),
        "kernel.kept_frac": kept_n / max(1, blocks_n),
        "kernel.gated_frac": gated / n_sample,
        "extract_udfs.fused_s_per_kpage": fused_s / k,
        "extract_udfs.adapter_frac": 1.0 - page_s / fused_s,
        "extract_udfs.out_bytes_per_page": sum(b.nbytes for b in out) / n_sample,
    }


def _dir_stats(path: Path) -> tuple[int, float]:
    files = list(path.rglob("*.parquet"))
    return len(files), sum(f.stat().st_size for f in files) / 1e6


def workload_pair(wl: Workload, tr: Tracer,
                  traced_first: bool) -> tuple[float, int, dict]:
    """The workload once untraced (the reference of the tracing overhead,
    run next to the traced one because runs keep speeding up within a
    launch) and once under a span. Returns (untraced seconds, failed rows,
    the traced run's check details)."""
    reference, failed, detail = 0.0, 0, {}
    for traced in (traced_first, not traced_first):
        wl.prepare()
        if traced:
            with tr.span("workload"):
                wl.run()
        else:
            t0 = time.perf_counter()
            wl.run()
            reference = time.perf_counter() - t0
        bad, got = wl.check()
        failed += bad
        if traced:
            detail = got
    return reference, failed, detail


def crawl_probes(wl: Workload, tr: Tracer) -> dict:
    """Cumulative extraction jobs (scan -> + Arrow round trip -> + kernel ->
    + parquet write -> + commit, the workload itself) on the rows the
    workload extracts: all pages on a fresh crawl, the not-yet-committed
    ones on the resume. Beside them, the extraction with the salted url-hash
    repartition to a noop sink, so that the shuffle is measured on a
    map-only crawl too. PROBE_REPS interleaved rounds, then a resume of the
    fully committed input. Durations are read from the spans."""
    from llmap_spark.sources.snapshot import committed_snapshots
    from llmap_spark.plans.pipeline import extract, prepared_pages
    from llmap_spark.sources.snapshot import read_extracted, run_extract_job

    wl.prepare()
    done = read_extracted(wl.spark, str(wl.out))
    todo = wl.pages if done is None else wl.pages.join(
        done.select("url"), on="url", how="left_anti")
    new_rows = todo.count()
    narrow = prepared_pages(todo, wl.cfg)
    scratch = wl.work / "extract_write"
    failed = 0
    reference = []
    for r in range(PROBE_REPS):
        with tr.span("pipeline.scan"):
            _noop(narrow)
        with tr.span("pipeline.arrow_roundtrip"):
            _noop(narrow.mapInArrow(_identity, schema=narrow.schema))
        with tr.span("pipeline.extract_noop"):
            _noop(extract(todo, wl.cfg))
        with tr.span("pipeline.salted_noop"):
            _noop(extract(todo, wl.salted))
        with tr.span("pipeline.extract_write"):
            extract(todo, wl.cfg).write.mode("overwrite").parquet(str(scratch))
        shutil.rmtree(scratch, ignore_errors=True)
        ref, bad, _ = workload_pair(wl, tr, traced_first=r % 2 == 1)
        reference.append(ref)
        failed += bad
    files, mb = _dir_stats(Path(committed_snapshots(str(wl.out))[-1].data_path))
    with tr.span("snapshot.resume_check"):
        again = run_extract_job(wl.spark, wl.pages, str(wl.out), wl.cfg)
    failed += 0 if again is None else wl.rows  # committed rows twice
    return {
        "failed": failed, "attempted": 2 * PROBE_REPS * wl.rows,
        "reference_s": reference,
        "kernel.pages_extracted": new_rows,
        "snapshot.skip_frac": 1.0 - new_rows / wl.rows,
        "snapshot.files_written": files,
        "snapshot.output_mb": mb,
    }


def curate_probes(wl: Workload, tr: Tracer) -> dict:
    """Each curation operator on the workload's documents to a noop sink,
    then kept_documents, then two rounds of the workload."""
    from pyspark.sql import functions as F

    from llmap_spark.cache import release_persisted
    from llmap_spark.operators.dedup import (connected_components,
                                             exact_dedup,
                                             minhash_lsh_candidates)
    from llmap_spark.operators.scrub import (decontaminate, dedup_paragraphs,
                                             redact_pii)
    from llmap_spark.operators.textstats import quality_features
    from llmap_spark.plans.training import kept_documents

    docs, n = wl.docs, wl.rows
    out = {}
    wl.prepare()
    with tr.span("operators.quality_features"):
        _noop(quality_features(docs))
    with tr.span("operators.exact_dedup"):
        _noop(exact_dedup(docs))
    release_persisted()
    with tr.span("operators.minhash_lsh_candidates"):
        cand = minhash_lsh_candidates(docs, materialize=True)
        _noop(cand)
    verified = cand.filter(F.col("est_jaccard") >= 0.5)
    with tr.span("operators.connected_components"):
        _noop(connected_components(verified))
    with tr.span("operators.decontaminate"):
        _noop(decontaminate(docs, wl.bench))
    with tr.span("operators.dedup_paragraphs"):
        _noop(dedup_paragraphs(docs))
    with tr.span("operators.redact_pii"):
        _noop(redact_pii(docs))
    with tr.span("operators.ratios"):
        out["operators.quality_keep_frac"] = (
            quality_features(docs).filter("q_keep").count() / n)
        out["operators.exact_dup_frac"] = (
            exact_dedup(docs).filter("is_dup").count() / n)
        release_persisted()
        out["operators.lsh_verified_frac"] = (
            verified.count() / max(1, cand.count()))
        kept, total = dedup_paragraphs(docs).agg(
            F.sum("n_paras_kept"), F.sum("n_paras")).collect()[0]
        out["operators.paras_kept_frac"] = kept / total
    wl.prepare()
    with tr.span("training.kept_documents"):
        _noop(kept_documents(docs))
    out["failed"], out["reference_s"] = 0, []
    for traced_first in (False, True):
        ref, bad, detail = workload_pair(wl, tr, traced_first)
        out["failed"] += bad
        out["reference_s"].append(ref)
    out["attempted"] = 4 * n
    out["training.kept_frac"] = detail["rows"] / n
    return out


def trace(spec: dict, spark, wl: Workload, layers: dict) -> dict:
    """The probes and the traced workload, on the measured session."""
    tr = Tracer(run_id=f"{spec['workload']}-s{spec['seed']}",
                sc=spark.sparkContext)
    if wl.name == "curate_corpus":
        res = curate_probes(wl, tr)
    else:
        res = crawl_probes(wl, tr)
    batch_rows = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    spark.stop()  # flushes the event log; the kernel probe needs no Spark
    res.update(kernel_probe(wl.inputs / "pages", spec["seed"],
                            KERNEL_SAMPLE[wl.name], batch_rows))
    res.update(layers)
    tr.write(spec["spans_out"])
    return {"reference_s": res.pop("reference_s"), "layers": res,
            "spans": tr.spans}


def main() -> int:
    spec = json.loads(Path(sys.argv[1]).read_text())
    spark, layers = start_session(spec)
    res = {"setup_s": time.time() - spec["launch_ts"]}
    wl = Workload(spark, spec)
    res["ready_s"] = time.time() - spec["launch_ts"]
    if spec["mode"] == "trace":  # the probes run after the warm runs
        res["runs"] = timed_runs(wl, 0)
        res.update(trace(spec, spark, wl, layers))
    else:
        n = max(MIN_TIMED_RUNS, round(spec["seconds"] / NOMINAL_RUN_S[wl.name]))
        res["runs"] = timed_runs(wl, n)
        res["runs_done_s"] = time.time() - spec["launch_ts"]
    spark.stop()
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
