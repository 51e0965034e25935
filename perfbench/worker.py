"""The measured process. run.py starts it with a pinned environment and
prepared inputs; it starts Spark, warms up, runs one workload in a closed
loop for the requested seconds (each job or batch starts only after the
previous one committed), checks every output, and writes its figures as
JSON to --result.

With --trace 1 it instead runs the workload once untraced and once layer by
layer, each layer's input being the previous layer's materialized output
and each layer's output forced with a noop sink, with spans recorded here
around every public call and Spark's status store read around the spans
that report shuffle, GC and task figures.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import threading
import time
import traceback
import urllib.request
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checks, inputs  # noqa: E402
from perfbench.stats import Tracer  # noqa: E402

ID, TEXT = "image_id", "caption"

# Every per-layer metric the traced run reports, with its unit. A workload
# reports 0 for a layer its code does not run.
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "dedup.line_dedup_s": "s",
    "dedup.lines_in": "count",
    "dedup.lines_kept_frac": "ratio",
    "dedup.shuffle_write_mb": "MB",
    "dedup.spill_mb": "MB",
    "dedup.incremental_s": "s",
    "dedup.corpus_rows_hashed_per_batch_row": "ratio",
    "dedup.fresh_frac": "ratio",
    "lid.with_lang_s": "s",
    "lid.rows": "count",
    "lid.null_frac": "ratio",
    "lid.salt_skew": "ratio",
    "perplexity.tok_pp_s": "s",
    "perplexity.rows": "count",
    "pipeline.joinback_s": "s",
    "pipeline.joinback_shuffle_write_mb": "MB",
    "image_quality.gates_s": "s",
    "image_quality.pass_frac": "ratio",
    "multimodal.model_gates_s": "s",
    "multimodal.images_decoded": "count",
    "multimodal.keep_frac": "ratio",
    "multimodal.checkpoint_mb": "MB",
    "tables.write_s": "s",
    "tables.sidecar_s": "s",
    "tables.jobs_per_batch": "count",
    "tables.files_written": "count",
    "tables.bytes_written_mb": "MB",
    "dedup.minhash_lsh_s": "s",
    "dedup.lsh_candidates": "count",
    "dedup.lsh_true_frac": "ratio",
    "spark.tasks": "count",
    "spark.gc_s": "s",
    "trace.total_s": "s",
    "trace.untraced_s": "s",
    "trace.overhead_s": "s",
}

END_TO_END = {
    "setup_s": "s",
    "images_per_s": "1/s",
    "batch_p50_s": "s",
    "peak_rss_mb": "MB",
    "write_amp": "ratio",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------ measurement
class MemorySampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    driver JVM and the Python workers it forks), sampled while `active`.
    Memory is the proportional set size, so pages the forked Python workers
    share with each other count once, not once per worker."""

    def __init__(self, interval: float = 0.1):
        super().__init__(daemon=True)
        self.interval = interval
        self.active = threading.Event()
        self.stop_flag = threading.Event()
        self.peak_bytes = 0

    @staticmethod
    def tree() -> set[int]:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            for c, pp in parent.items():
                if pp == p and c not in tree:
                    tree.add(c)
                    frontier.append(c)
        return tree

    def tree_pss(self) -> int:
        total = 0
        for p in self.tree():
            try:
                with open(f"/proc/{p}/smaps_rollup") as f:
                    total += next(int(line.split()[1]) for line in f if line.startswith("Pss:")) * 1024
            except (OSError, StopIteration):
                pass  # the process ended between listing and reading
        return total

    def run(self) -> None:
        while not self.stop_flag.is_set():
            if self.active.wait(self.interval):
                self.peak_bytes = max(self.peak_bytes, self.tree_pss())
                time.sleep(self.interval)


class StageProbe:
    """Totals over every stage in Spark's status store (REST API of the UI,
    enabled only in traced runs). Differences around a span give the
    span's shuffle, spill, GC and task figures."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.sc = sc
        self.url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages"

    def totals(self) -> dict:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        with urllib.request.urlopen(self.url, timeout=30) as r:
            stages = json.load(r)
        return {
            "shuffle_write_mb": sum(s.get("shuffleWriteBytes", 0) for s in stages) / 1e6,
            "spill_mb": sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in stages) / 1e6,
            "gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
            "tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
        }


def delta(after: dict, before: dict) -> dict:
    return {k: after[k] - before[k] for k in after}


@contextlib.contextmanager
def root_span(tr: Tracer, probe: StageProbe, m: dict, name: str):
    """The span of one traced operation; its Spark task count and GC time
    are the operation's."""
    p0 = probe.totals()
    with tr.span(name):
        yield
    d = delta(probe.totals(), p0)
    m["spark.tasks"] = d["tasks"]
    m["spark.gc_s"] = d["gc_s"]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def materialize(df):
    return df.localCheckpoint(eager=True)


def storage_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


@dataclass
class Op:
    pairs: int
    seconds: float
    in_bytes: int
    out_bytes: int


# ------------------------------------------------------------ workloads
class Workload:
    WARM_PASSES = 2

    def __init__(self, spark, inp: str, work: str, meta: dict):
        self.spark, self.inp, self.work, self.meta = spark, inp, work, meta

    def path(self, *p) -> str:
        return os.path.join(self.inp, *p)

    def out(self, *p) -> str:
        return os.path.join(self.work, *p)

    def has_next(self, i: int) -> bool:
        return True

    def finish(self) -> list[str]:
        return []


def _config(**kw):
    from ccnet_spark_spark.operators.bucket import load_cutoffs_dict
    from ccnet_spark_spark.plans.pipeline import Config

    return Config(cutoffs=load_cutoffs_dict(), **kw)


def _write_verdicts(df, path: str) -> None:
    from pyspark.sql import functions as F

    from ccnet_spark_spark.sources.tables import write_result

    write_result(df.withColumn("lang", F.coalesce("lang", F.lit(checks.NULL_LANG))), path)


class FilterCaptions(Workload):
    """Default Pipeline over the pairs, verdict table written by write_result."""

    def config(self):
        return _config()

    def run_to(self, src: str, dst: str) -> None:
        from ccnet_spark_spark.plans.pipeline import Pipeline

        res = Pipeline(self.spark, self.config()).run(self.spark.read.parquet(src)).drop("bytes")
        _write_verdicts(res, dst)

    def warm_once(self, k: int) -> None:
        self.run_to(self.path("warm"), self.out("warm_out"))

    def run_once(self, i: int) -> Op:
        t = time.perf_counter()
        self.run_to(self.path("pairs"), self.out("out"))
        dt = time.perf_counter() - t
        return Op(self.meta["rows"], dt, self.meta["input_bytes"], inputs.dir_bytes(self.out("out")))

    def check(self, i: int, op: Op) -> list[str]:
        return self.check_path(self.out("out"))

    def check_path(self, path: str) -> list[str]:
        if not hasattr(self, "_oracle"):
            self._oracle = checks.pd.read_parquet(self.path("oracle.parquet"))
        got = checks.read_table(path, [ID] + checks.VERDICT_COLS)
        return checks.compare_verdicts(got, self._oracle)

    # -------- traced
    def traced(self, tr: Tracer, probe: StageProbe, m: dict) -> list[str]:
        pairs = self.spark.read.parquet(self.path("pairs"))
        with root_span(tr, probe, m, "filter_captions"):
            out = traced_text_pipeline(self.spark, tr, probe, m, pairs, self.config())
            dst = self.out("traced_out")
            with tr.span("tables.write_result") as s:
                _write_verdicts(out, dst)
        m["tables.write_s"] += s.duration
        m["tables.files_written"] += checks.parquet_files(dst)
        m["tables.bytes_written_mb"] += inputs.dir_bytes(dst) / 1e6
        return self.check_path(dst)


def traced_text_pipeline(spark, tr: Tracer, probe: StageProbe, m: dict, pairs, cfg):
    """Pipeline.run's default caption path, one public call per layer:
    line_dedup -> with_lang + salted_repartition -> fused tokenize and
    perplexity -> join-back with bucket, scrub and verdict. Returns the
    materialized verdict rows (payload dropped, as the sinks take them)."""
    from pyspark.sql import functions as F

    from ccnet_spark_spark.functions.scrub import scrub_expr
    from ccnet_spark_spark.operators import bucket as bucket_op
    from ccnet_spark_spark.operators import dedup, lid, perplexity, verdict

    base = materialize(
        pairs.withColumn("original_length", F.length(TEXT).cast("int"))
        .withColumn("original_nlines", F.size(F.split(F.col(TEXT), "\n")).cast("int"))
        .withColumn("too_short", F.coalesce(F.col("original_length") < cfg.min_len, F.lit(True)))
    )
    docs = base.filter(~F.col("too_short")).select(ID, TEXT)
    lines_in = docs.select(F.sum(F.size(F.split(F.col(TEXT), "\n")))).collect()[0][0] or 0

    p0 = probe.totals()
    with tr.span("dedup.line_dedup") as s:
        enriched = dedup.line_dedup(
            docs, id_col=ID, text_col=TEXT, variant=cfg.dedup_variant,
            hash_algo=cfg.hash_algo, scope=cfg.dedup_scope,
        )
        noop(enriched)
    d = delta(probe.totals(), p0)
    enriched = materialize(enriched)
    kept_lines = enriched.select(F.sum("nlines")).collect()[0][0] or 0
    m["dedup.line_dedup_s"] += s.duration
    m["dedup.lines_in"] += lines_in
    m["dedup.lines_kept_frac"] = kept_lines / max(lines_in, 1)
    m["dedup.shuffle_write_mb"] += d["shuffle_write_mb"]
    m["dedup.spill_mb"] += d["spill_mb"]

    n_parts = cfg.salt_partitions or spark.sparkContext.defaultParallelism
    with tr.span("lid.with_lang") as s:
        langs = lid.with_lang(enriched, "dedup_caption", cfg.lid_model_path, cfg.lid_threshold)
        langs = lid.salted_repartition(langs, n_parts, "lang", id_col=ID)
        noop(langs)
    langs = materialize(langs)
    part_rows = [r[1] for r in langs.groupBy(F.spark_partition_id()).count().collect()]
    n_rows = sum(part_rows)
    m["lid.with_lang_s"] += s.duration
    m["lid.rows"] += n_rows
    m["lid.null_frac"] = langs.where(F.col("lang").isNull()).count() / max(n_rows, 1)
    m["lid.salt_skew"] = max(part_rows) / (n_rows / n_parts) if n_rows else 0.0

    with tr.span("perplexity.tok_pp") as s:
        scored = perplexity.with_tokenized_and_perplexity(langs, "dedup_caption", cfg.lm_dir)
        scored = scored.drop("tokenized")
        noop(scored)
    scored = materialize(scored)
    m["perplexity.tok_pp_s"] += s.duration
    m["perplexity.rows"] += scored.count()

    p0 = probe.totals()
    with tr.span("pipeline.joinback") as s:
        out = base.join(scored, on=ID, how="left")
        out = bucket_op.with_bucket(out, bucket_op.load_cutoffs(spark, cfg.cutoffs_csv, cfg.cutoffs))
        out = out.withColumn("scrubbed_caption", scrub_expr(F.coalesce(F.col("dedup_caption"), F.col(TEXT))))
        out = verdict.with_verdict(out, cfg.selected_langs).drop("too_short")
        if "bytes" in out.columns:
            out = out.drop("bytes")
        noop(out)
    d = delta(probe.totals(), p0)
    m["pipeline.joinback_s"] += s.duration
    m["pipeline.joinback_shuffle_write_mb"] += d["shuffle_write_mb"]
    return materialize(out)


class CuratedIngest(Workload):
    """Crawl batches committed back to back against a growing corpus. Each
    commit: incremental_dedup against the committed rows, MinHash-LSH
    near-dup removal within the batch (jobs/run_dedup.py's lsh mode), the
    curated Pipeline (image gates, fused model gates), and a run_resumable
    commit with its sidecar row."""

    WARM_PASSES = 1
    LSH = dict(num_hashes=8, num_bands=4, shingle_n=3, algo="xxhash64")

    def __init__(self, *a):
        super().__init__(*a)
        self.result = self.out("ingest")
        self.processed: list[str] = []
        self.committed_captions: list[str] | None = None
        for p in (self.result, self.out("warm_ingest")):
            shutil.rmtree(p, ignore_errors=True)
            shutil.rmtree(p + "_sidecar", ignore_errors=True)

    def config(self):
        return _config(image_gates=True, model_gates=True, model_gates_mode="fused")

    def corpus(self, corpus_path: str, result: str):
        corpus = self.spark.read.parquet(corpus_path).select(ID, TEXT)
        if os.path.exists(result):
            corpus = corpus.unionByName(self.spark.read.parquet(result).select(ID, TEXT))
        return corpus

    def commit(self, batch_path: str, pid: str, corpus_path: str, result: str) -> list[str]:
        from ccnet_spark_spark.operators import dedup
        from ccnet_spark_spark.plans.pipeline import Pipeline
        from ccnet_spark_spark.sources import tables

        corpus = self.corpus(corpus_path, result)
        pipe = Pipeline(self.spark, self.config())

        def run_one(batch):
            fresh = dedup.incremental_dedup(batch, corpus, ID, TEXT)
            return pipe.run(dedup.minhash_lsh_dedup(fresh, ID, TEXT, **self.LSH)).drop("bytes")

        return tables.run_resumable(self.spark, {pid: self.spark.read.parquet(batch_path)}, result, run_one)

    def warm_once(self, k: int) -> None:
        self.commit(self.path("warm_batch"), f"w{k:03d}", self.path("warm_corpus"), self.out("warm_ingest"))

    def has_next(self, i: int) -> bool:
        return i < self.meta["batches"]

    def _bytes(self) -> int:
        """Bytes of the committed table and its sidecar."""
        return inputs.dir_bytes(self.result) + inputs.dir_bytes(self.result + "_sidecar")

    def _files(self) -> int:
        return checks.parquet_files(self.result) + checks.parquet_files(self.result + "_sidecar")

    def run_once(self, i: int) -> Op:
        pid = f"b{i:03d}"
        before = self._bytes()
        t = time.perf_counter()
        done = self.commit(self.path(f"batch_{i:03d}"), pid, self.path("corpus"), self.result)
        dt = time.perf_counter() - t
        self.processed.append(pid)
        if done != [pid]:
            raise RuntimeError(f"run_resumable processed {done}, want {pid}")
        return Op(self.meta["rows_per_batch"], dt, self.meta["batch_bytes"][i], self._bytes() - before)

    def expected(self, i: int, got_ids) -> tuple[list[str], "checks.pd.DataFrame"]:
        """(errors, expected verdicts) for batch i given the ids it committed."""
        if self.committed_captions is None:
            self.committed_captions = list(checks.pd.read_parquet(self.path("corpus"))[TEXT])
        batch = checks.pd.read_parquet(self.path(f"batch_{i:03d}"))
        fresh = inputs.fresh_ids(self.committed_captions, batch)
        errs = checks.check_subset(got_ids, fresh, "committed rows incremental_dedup should have dropped")
        gated = batch.loc[batch.apply(inputs.image_gate_pass, axis=1), ID]
        errs += checks.check_subset(got_ids, gated, "committed rows fail the image gates")
        survivors = batch[batch[ID].isin(set(got_ids))].reset_index(drop=True)
        return errs, inputs.oracle_verdicts(survivors)

    def check(self, i: int, op: Op | None) -> list[str]:
        pid = f"b{i:03d}"
        got = checks.read_table(os.path.join(self.result, f"part_id={pid}"), [ID, TEXT] + checks.VERDICT_COLS)
        errs, want = self.expected(i, list(got[ID]))
        errs += checks.compare_verdicts(got, want)
        side = checks.read_table(self.result + "_sidecar", ["partition_id", "n_in"])
        errs += checks.check_sidecar(side, pid, len(got))
        self.committed_captions += list(got[TEXT])
        return errs

    def finish(self) -> list[str]:
        """Every committed batch has exactly one sidecar row, and a second
        run_resumable over them processes nothing."""
        from ccnet_spark_spark.sources import tables

        def must_not_run(_df):
            raise RuntimeError("run_resumable re-ran a committed batch")

        parts = {p: self.spark.read.parquet(self.path(f"batch_{p[1:]}")) for p in self.processed}
        errs = []
        again = tables.run_resumable(self.spark, parts, self.result, must_not_run)
        if again:
            errs.append(f"second run_resumable processed {again}")
        side = checks.read_table(self.result + "_sidecar", ["partition_id"])
        if sorted(side["partition_id"]) != sorted(self.processed):
            errs.append(f"{len(side)} sidecar rows for {len(self.processed)} committed batches")
        return errs

    # -------- traced
    def traced(self, tr: Tracer, probe: StageProbe, m: dict) -> list[str]:
        from pyspark.sql import functions as F

        from ccnet_spark_spark.operators import dedup
        from ccnet_spark_spark.operators.image_quality import ImageGateConfig, keep_expr
        from ccnet_spark_spark.operators.multimodal import model_gate_passthrough
        from ccnet_spark_spark.plans.pipeline import Pipeline
        from ccnet_spark_spark.sources import tables

        cfg = self.config()
        i = len(self.processed)
        pid = f"b{i:03d}"
        batch = materialize(self.spark.read.parquet(self.path(f"batch_{i:03d}")))
        corpus = materialize(self.corpus(self.path("corpus"), self.result))
        n_batch, n_corpus = batch.count(), corpus.count()
        sc = self.spark.sparkContext
        group = f"{tr.run_id}-{pid}"
        side_spans: list[float] = []
        real_append = tables.append_sidecar

        def traced_append(*a, **kw):
            sc.setJobGroup(group + "-sidecar", "sidecar")
            with tr.span("tables.sidecar") as s:
                real_append(*a, **kw)
            side_spans.append(s.duration)
            sc.setJobGroup(group, "batch")

        with root_span(tr, probe, m, "curated_ingest"):
            with tr.span("dedup.incremental") as s:
                fresh = dedup.incremental_dedup(batch, corpus, ID, TEXT)
                noop(fresh)
            m["dedup.incremental_s"] += s.duration
            fresh = materialize(fresh)

            with tr.span("dedup.minhash_lsh") as s:
                distinct = dedup.minhash_lsh_dedup(fresh, ID, TEXT, **self.LSH)
                noop(distinct)
            m["dedup.minhash_lsh_s"] += s.duration
            distinct = materialize(distinct)

            with tr.span("image_quality.gates") as s:
                gated = distinct.filter(keep_expr(cfg.image_gate_config or ImageGateConfig(), TEXT))
                noop(gated)
            m["image_quality.gates_s"] += s.duration
            gated = materialize(gated)

            n_decoded = gated.where(F.col("bytes").isNotNull()).count()
            with tr.span("multimodal.model_gates") as s:
                kept = (
                    model_gate_passthrough(gated, tau=cfg.align_tau)
                    .where(F.col("model_keep") & F.col("aligned"))
                    .drop("model_keep", "aligned")
                )
                noop(kept)
            m["multimodal.model_gates_s"] += s.duration
            before = storage_mb(self.spark)
            with tr.span("multimodal.checkpoint"):
                survivors = kept.localCheckpoint()
            m["multimodal.checkpoint_mb"] = storage_mb(self.spark) - before

            traced_out = traced_text_pipeline(self.spark, tr, probe, m, survivors, cfg)

            # the commit runs the real, lazy Pipeline over the LSH output, as
            # the untraced commit does: its write executes the pipeline plan
            # and append_sidecar re-reads that plan
            pipe = Pipeline(self.spark, cfg)
            files0, bytes0 = self._files(), self._bytes()
            tables.append_sidecar = traced_append
            sc.setJobGroup(group, "batch")
            try:
                with tr.span("tables.run_resumable") as commit:
                    done = tables.run_resumable(
                        self.spark, {pid: distinct}, self.result, lambda b: pipe.run(b).drop("bytes")
                    )
            finally:
                tables.append_sidecar = real_append
                sc.setJobGroup(None, None)

        n_fresh, n_distinct, n_gated = fresh.count(), distinct.count(), gated.count()
        m["dedup.fresh_frac"] = n_fresh / max(n_batch, 1)
        m["dedup.corpus_rows_hashed_per_batch_row"] = n_corpus / max(n_batch, 1)
        sigs = dedup.minhash_signatures(fresh, ID, TEXT, self.LSH["num_hashes"], self.LSH["shingle_n"], algo="xxhash64")
        rows_per_band = self.LSH["num_hashes"] // self.LSH["num_bands"]
        cands = dedup.minhash_lsh_candidates(sigs, ID, self.LSH["num_bands"], rows_per_band).count()
        verified = dedup.lsh_then_jaccard(fresh, ID, TEXT, **self.LSH).count()
        m["dedup.lsh_candidates"] = cands
        m["dedup.lsh_true_frac"] = verified / max(cands, 1)
        m["image_quality.pass_frac"] = n_gated / max(n_distinct, 1)
        m["multimodal.images_decoded"] = n_decoded
        m["multimodal.keep_frac"] = survivors.count() / max(n_decoded, 1)

        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        jobs += len(sc.statusTracker().getJobIdsForGroup(group + "-sidecar"))
        m["tables.sidecar_s"] += sum(side_spans)
        m["tables.write_s"] += tr.self_time(commit.idx)  # the commit minus its sidecar spans
        m["tables.jobs_per_batch"] = jobs
        m["tables.files_written"] += self._files() - files0
        m["tables.bytes_written_mb"] += (self._bytes() - bytes0) / 1e6
        part = os.path.join(self.result, f"part_id={pid}")
        self.processed.append(pid)
        errs = [] if done == [pid] else [f"run_resumable processed {done}, want {pid}"]
        errs += self.check(i, None)
        # the layer-by-layer result must equal the committed one
        committed = checks.read_table(part, [ID] + checks.VERDICT_COLS)
        return errs + checks.compare_verdicts(traced_out.toPandas(), committed)


WORKLOADS = {
    "filter_captions": FilterCaptions,
    "curated_ingest": CuratedIngest,
}


# ------------------------------------------------------------ main
def start_session(args, work: str, trace: bool):
    from ccnet_spark_spark.session import get_spark

    import __spark_entry__ as entrymod

    tmp = os.environ.get("TMPDIR", work)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if trace else "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep the JVM's temp files, perf-data file included, in the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    entrymod._ensure_pkg(spark)
    return spark


def warm_up(w: Workload) -> list[float]:
    """Run the workload on its small warm-up input `w.WARM_PASSES` times.
    The first pass is cold (JIT, Python worker start-up, first use of every
    operator) and costs several steady passes. On a 4-core host a second
    filter_captions pass came within ~17% of a third, so filter_captions
    warms twice. A curated_ingest pass costs a whole commit and its second
    pass already came within 4-12% of a third, so it warms once to keep a
    run inside its time budget."""
    times = []
    for k in range(w.WARM_PASSES):
        t = time.perf_counter()
        w.warm_once(k)
        times.append(time.perf_counter() - t)
    return times


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--spans", required=True, help="where the traced run writes its spans")
    ap.add_argument("--spawned-at", type=float, required=True, help="time.time() when the launcher spawned us")
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    with open(os.path.join(args.inputs, "meta.json")) as f:
        meta = json.load(f)
    os.makedirs(args.work, exist_ok=True)

    spark = start_session(args, args.work, trace)
    session_ready = time.time()
    w = WORKLOADS[args.workload](spark, args.inputs, args.work, meta)
    warm = warm_up(w)
    ready = time.time()
    setup_s = ready - args.spawned_at
    log(f"setup {setup_s:.2f}s (session {session_ready - args.spawned_at:.2f}s, warm-up passes {['%.2f' % t for t in warm]})")

    result = {"setup_s": setup_s, "warm": warm}
    try:
        if trace:
            result.update(run_traced(spark, w, args, session_ready - args.spawned_at, ready - session_ready))
        else:
            result.update(run_timed(w, args.seconds))
    finally:
        spark.stop()
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


def run_timed(w: Workload, seconds: float) -> dict:
    sampler = MemorySampler()
    sampler.start()
    ops: list[Op] = []
    attempted = failed = 0
    busy = 0.0
    i = 0
    while busy < seconds and w.has_next(i):
        attempted += 1
        sampler.active.set()
        t = time.perf_counter()
        try:
            op = w.run_once(i)
        except Exception:
            log(f"operation {i} raised:\n{traceback.format_exc()}")
            failed += 1
            continue
        finally:
            sampler.active.clear()
            busy += time.perf_counter() - t
            i += 1
        try:
            errs = w.check(i - 1, op)
        except Exception:
            errs = [f"check raised:\n{traceback.format_exc()}"]
        if errs:
            failed += 1
            log(f"operation {i - 1} output is wrong: {errs}")
        ops.append(op)
        log(f"operation {i - 1}: {op.seconds:.3f}s")
    errs = w.finish()
    if errs:
        failed += 1
        attempted += 1
        log(f"end-of-run check failed: {errs}")
    sampler.stop_flag.set()
    sampler.active.set()
    sampler.join(timeout=5)
    return {
        "attempted": attempted,
        "failed": failed,
        "ops": [op.__dict__ for op in ops],
        "peak_mem_bytes": sampler.peak_bytes,
    }


def run_traced(spark, w: Workload, args, start_s: float, warmup_s: float) -> dict:
    m = {k: 0.0 for k in PER_LAYER}
    m["session.start_s"] = start_s
    m["session.warmup_s"] = warmup_s
    untraced = w.run_once(0)
    failed = int(bool(w.check(0, untraced)))
    tr = Tracer()
    errs = w.traced(tr, StageProbe(spark), m)
    failed += int(bool(errs))
    root = next(i for i, s in enumerate(tr.spans) if s.parent is None)
    m["trace.total_s"] = tr.spans[root].duration
    m["trace.untraced_s"] = untraced.seconds
    m["trace.overhead_s"] = m["trace.total_s"] - untraced.seconds
    os.makedirs(os.path.dirname(args.spans), exist_ok=True)
    with open(args.spans, "w") as f:
        json.dump(tr.to_records(), f, indent=1)
    if errs:
        log(f"traced run output is wrong: {errs}")
    return {"attempted": 2, "failed": failed, "per_layer": m}


if __name__ == "__main__":
    raise SystemExit(main())
