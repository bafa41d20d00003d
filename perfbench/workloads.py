"""The four workloads, each driven through the public entry point a user
calls, with the correctness check that fails a run and the per-layer
probes of the traced run.

Every workload exposes:

* ``run(i)``      -- one timed operation from input to a complete,
                     committed result; returns an ``Outcome``;
* ``layers(...)`` -- the traced run's per-layer numbers.

There is no warm-up: each production entry point (``run_*.py``) is a
job in a fresh driver JVM, so users pay JVM code generation and
first-use costs on every job, and the first operation of a run pays
them too.

Outputs are checked with pyarrow reads of what the run left on storage,
so checking adds no Spark job to the measured session.
"""

from __future__ import annotations

import collections
import glob
import hashlib
import json
import os
import shutil
import statistics
import time
import zlib
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from probes import (
    flag_counts,
    kernel_ceiling,
    kernel_latency,
    kernel_phases,
    timed,
)

# one in SAMPLE_MOD output urls (by crc32) is re-extracted in process
SAMPLE_MOD = 40
# probes of the traced run are repeated and their medians used
PROBE_REPS = 2


@dataclass
class Outcome:
    wall_s: float
    docs: int
    stored_bytes: int
    attempted: int
    failed: int
    errors: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)


def du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def n_files(path: str) -> int:
    return sum(
        1 for _r, _d, files in os.walk(path) for f in files
        if not f.startswith((".", "_"))
    )


def noop(df) -> None:
    """Run a DataFrame to Spark's no-op sink: the full plan executes,
    nothing is stored."""
    df.write.format("noop").mode("overwrite").save()


def _rm(*paths: str) -> None:
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)


# --------------------------------------------------------------------------
# extraction: extract_uniform, extract_crawl
# --------------------------------------------------------------------------


class Extraction:
    """``sources.tableio.run_extraction`` over a pages table with the
    function's defaults: salted, 64 buckets (``run_extraction_job.py``
    passes 4096, sized for crawl-scale input)."""

    def __init__(self, spark, in_dir: str, work: str, seed: int):
        from cvocr_spark.kernel import extract

        self.spark = spark
        self.data = os.path.join(in_dir, "pages")
        self.work = work
        t = pq.read_table(sorted(glob.glob(os.path.join(self.data, "*.parquet"))),
                          columns=["url", "html"])
        urls = t.column("url").to_pylist()
        self.htmls = t.column("html").to_pylist()
        self.expected = {u for u, h in zip(urls, self.htmls) if h}
        if len(set(urls)) != len(urls):
            raise ValueError("duplicate urls in generated input")
        # empty pages are dropped by extract_pages' prefilter by design
        self.dropped_empty = len(urls) - len(self.expected)
        pick = seed % SAMPLE_MOD
        self.sample = {}
        for u, h in zip(urls, self.htmls):
            if h and zlib.crc32(u.encode()) % SAMPLE_MOD == pick:
                r = extract(h)
                self.sample[u] = (r.text, [tuple(s) for s in r.spans])

    def _extract(self, out: str) -> float:
        from cvocr_spark.sources.tableio import run_extraction

        _rm(out, out + "_manifest")
        pages = self.spark.read.parquet(self.data)
        wall, _ = timed(run_extraction, self.spark, pages, out)
        return wall

    def run(self, i: int) -> Outcome:
        out = os.path.join(self.work, f"extract-{i}")
        try:
            wall = self._extract(out)
        except Exception as e:  # a raised job fails every doc of the run
            return Outcome(0.0, 0, 0, len(self.expected), len(self.expected),
                           [f"run_extraction raised {type(e).__name__}: {e}"])
        stored = du(out) + du(out + "_manifest")
        o = self.check(out)
        o.wall_s, o.stored_bytes = wall, stored
        _rm(out, out + "_manifest")
        return o

    def check(self, out: str) -> Outcome:
        errors: list[str] = []
        t = pq.read_table(out, columns=["url", "text", "spans", "flags", "bucket"])
        urls = t.column("url").to_pylist()
        counts = collections.Counter(urls)
        dup = [u for u, c in counts.items() if c > 1]
        missing = self.expected - counts.keys()
        extra = counts.keys() - self.expected
        if dup:
            errors.append(f"{len(dup)} urls appear more than once, e.g. {dup[0]}")
        if extra:
            errors.append(f"{len(extra)} output urls not in the non-empty input")
        flags = t.column("flags").to_pylist()
        n_error = sum(1 for f in flags if f and "error:" in f)
        # seeded url-hash sample: text and spans byte-identical to the
        # in-process kernel
        texts = t.column("text").to_pylist()
        spans = t.column("spans").to_pylist()
        row = {u: i for i, u in enumerate(urls)}
        bad = 0
        for u, (want_text, want_spans) in self.sample.items():
            i = row.get(u)
            if i is None:
                continue  # already counted as missing
            got_spans = [
                (s["block_id"], s["char_start"], s["char_end"], s["cls"])
                for s in spans[i]
            ]
            if texts[i] != want_text or got_spans != want_spans:
                bad += 1
        if bad:
            errors.append(f"{bad}/{len(self.sample)} sampled docs differ from kernel.extract")
        # manifest: one committed row per written bucket, summing to the input
        man = pq.read_table(out + "_manifest").to_pylist()
        committed = [r for r in man if r["status"] == "committed"]
        buckets = collections.Counter(r["bucket"] for r in committed)
        if any(c != 1 for c in buckets.values()):
            errors.append("a bucket has more than one committed manifest row")
        if set(buckets) != set(t.column("bucket").to_pylist()):
            errors.append("manifest buckets differ from the written buckets")
        if sum(r["n_docs"] for r in committed) != len(self.expected):
            errors.append(
                f"manifest n_docs sum {sum(r['n_docs'] for r in committed)} "
                f"!= input {len(self.expected)}"
            )
        failed = n_error + len(missing)
        if failed:
            errors.append(f"{n_error} docs flagged error:, {len(missing)} missing")
        return Outcome(
            0.0, len(self.expected), 0, len(self.expected), failed, errors,
            {"flags": flag_counts(flags), "sample": len(self.sample),
             "dropped_empty": self.dropped_empty},
        )

    def layers(self, ctx) -> dict:
        """Telescoping split of the run_extraction wall:

            scan      = scan of (url, warc_ts, html) to a no-op sink
            boundary  = identity mapInArrow - scan
            kernel    = unsalted extract_pages - identity
            exchange  = salted extract_pages - unsalted
            commit    = run_extraction - salted extract_pages

        Each term is a difference of medians over PROBE_REPS runs, so
        the five add back to the median run_extraction wall."""
        from cvocr_spark.plans.job import extract_pages

        spark, sql = self.spark, ctx.sql
        sc = spark.sparkContext
        batches = sc.accumulator(0)

        def identity(it):
            for rb in it:
                batches.add(1)
                yield rb

        def pages():
            return spark.read.parquet(self.data)

        def slim():
            return pages().select("url", "warc_ts", "html").filter(
                F.col("html").isNotNull() & (F.length("html") > 0)
            )

        probes = {
            "scan": lambda: noop(pages().select("url", "warc_ts", "html")),
            "identity": lambda: noop(
                slim().mapInArrow(identity, "url string, warc_ts timestamp, html binary")
            ),
            "unsalted": lambda: noop(extract_pages(pages(), salted=False)),
            "salted": lambda: noop(extract_pages(pages())),
            "run_extraction": lambda: self._extract(os.path.join(self.work, "traced")),
        }
        walls: dict[str, list[float]] = {k: [] for k in probes}
        sqlm: dict[str, tuple[int, dict]] = {}
        for _ in range(PROBE_REPS):
            for name, fn in probes.items():
                mark = sql.mark()
                with ctx.tracer.span(f"extract.{name}"):
                    w, _ = timed(fn)
                walls[name].append(w)
                sqlm[name] = sql.since(mark)
        med = {k: statistics.median(v) for k, v in walls.items()}
        out_dir = os.path.join(self.work, "traced")
        layer = {
            "tableio.scan_s": med["scan"],
            "job.boundary_s": med["identity"] - med["scan"],
            "job.kernel_stage_s": med["unsalted"] - med["identity"],
            "job.exchange_s": med["salted"] - med["unsalted"],
            "tableio.commit_s": med["run_extraction"] - med["salted"],
        }
        layer["layers.sum_s"] = sum(layer.values())
        layer.update({
            "tableio.files_written": n_files(out_dir),
            "tableio.bytes_written": du(out_dir) + du(out_dir + "_manifest"),
            "tableio.sql_executions": sqlm["run_extraction"][0],
            "job.exchange_bytes": sqlm["salted"][1]["sql.shuffle_bytes_written"],
            "job.python_bytes_in": sqlm["salted"][1]["sql.python_bytes_in"],
            "job.python_bytes_out": sqlm["salted"][1]["sql.python_bytes_out"],
            "job.arrow_batches": batches.value / PROBE_REPS,
        })
        _rm(out_dir, out_dir + "_manifest")

        # parallel efficiency: the production stage at 1 core vs nproc
        def stage_wall():
            return statistics.median(
                timed(noop, extract_pages(ctx.spark.read.parquet(self.data)))[0]
                for _ in range(PROBE_REPS)
            )

        with ctx.tracer.span("extract.parallel_1"):
            ctx.build(1)
            t1 = stage_wall()
        with ctx.tracer.span("extract.parallel_n"):
            ctx.build(ctx.nproc)
            tn = stage_wall()
        layer["job.parallel_efficiency"] = t1 / (ctx.nproc * tn)
        self.spark = ctx.spark

        htmls = [h for h in self.htmls if h]
        with ctx.tracer.span("kernel.latency"):
            layer.update(kernel_latency(htmls))
        with ctx.tracer.span("kernel.phases"):
            layer.update(kernel_phases(htmls[::4]))
        with ctx.tracer.span("kernel.ceiling"):
            layer["kernel.ceiling_docs_per_s"] = kernel_ceiling(htmls, ctx.nproc)
        return layer


# --------------------------------------------------------------------------
# curate
# --------------------------------------------------------------------------


class Curate:
    """``plans.curate.curate_corpus`` over documents with injected exact
    copies and an eval set; the manifest is written, then released --
    the body of ``run_curation_job.py``."""

    def __init__(self, spark, in_dir: str, work: str, seed: int):
        from cvocr_spark.operators.dedup import DUP_OFFSET

        self.spark = spark
        self.in_dir = in_dir
        self.work = work
        ids = pq.read_table(os.path.join(in_dir, "documents.parquet"),
                            columns=["doc_id"]).column("doc_id").to_pylist()
        self.dups = {i + DUP_OFFSET: i for i in ids if i % 10 == 0}
        self.expected = set(ids) | set(self.dups)
        self.digest_file = os.path.join(in_dir, "_MANIFEST_DIGEST")
        self.digests: set[str] = set()

    def _inputs(self, docs_file: str):
        from cvocr_spark.operators.dedup import with_injected_dups

        docs = self.spark.read.parquet(docs_file)
        ev = self.spark.read.parquet(os.path.join(self.in_dir, "eval.parquet"))
        return with_injected_dups(docs), ev

    def _curate(self, docs, ev, out: str) -> None:
        from cvocr_spark.plans.curate import curate_corpus, release

        manifest = curate_corpus(docs, ev)
        manifest.write.mode("overwrite").parquet(out)
        release(manifest)

    def run(self, i: int) -> Outcome:
        out = os.path.join(self.work, f"manifest-{i}")
        _rm(out)
        docs, ev = self._inputs(os.path.join(self.in_dir, "documents.parquet"))
        try:
            wall, _ = timed(self._curate, docs, ev, out)
        except Exception as e:
            n = len(self.expected)
            return Outcome(0.0, 0, 0, n, n, [f"curate_corpus raised {type(e).__name__}: {e}"])
        o = self.check(out)
        o.wall_s, o.stored_bytes = wall, du(out)
        _rm(out)
        return o

    def check(self, out: str) -> Outcome:
        errors: list[str] = []
        t = pq.read_table(out).sort_by("doc_id")
        ids = t.column("doc_id").to_pylist()
        counts = collections.Counter(ids)
        missing = self.expected - counts.keys()
        if any(c > 1 for c in counts.values()):
            errors.append("a doc has more than one manifest row")
        if counts.keys() - self.expected:
            errors.append("manifest rows for docs not in the input")
        if missing:
            errors.append(f"{len(missing)} input docs have no manifest row")
        cluster = dict(zip(ids, t.column("cluster_id").to_pylist()))
        split = [d for d, s in self.dups.items() if cluster.get(d) != cluster.get(s)]
        if split:
            errors.append(f"{len(split)} injected duplicates not in their source's cluster")
        digest = hashlib.sha256(json.dumps(t.to_pylist(), sort_keys=True).encode()).hexdigest()
        self.digests.add(digest)
        if len(self.digests) > 1:
            errors.append("manifest digest differs between runs in this process")
        if os.path.exists(self.digest_file):
            with open(self.digest_file) as f:
                if f.read().strip() != digest:
                    errors.append("manifest digest differs from an earlier run on this seed")
        else:
            with open(self.digest_file, "w") as f:
                f.write(digest)
        n = len(self.expected)
        return Outcome(0.0, n, 0, n, len(missing), errors,
                       {"kept": sum(t.column("keep").to_pylist()), "digest": digest})

    def layers(self, ctx) -> dict:
        """Each curation stage timed on its own, over the frames
        curate_corpus builds for it, to a no-op sink."""
        from cvocr_spark.operators import decontam, dedup, sampling, scrub, textstats

        spark, sql, tr = self.spark, ctx.sql, ctx.tracer
        docs, ev = self._inputs(os.path.join(self.in_dir, "documents.parquet"))
        base = docs.select("doc_id", "text")

        def span(name, fn):
            walls, execs, shuffle = [], 0, 0.0
            for _ in range(PROBE_REPS):
                mark = sql.mark()
                with tr.span(name):
                    w, _ = timed(fn)
                walls.append(w)
                execs, m = sql.since(mark)
                shuffle = m["sql.shuffle_bytes_written"]
            return statistics.median(walls), execs, shuffle

        out = {}
        out["curate.scrub_s"] = span("curate.scrub", lambda: (
            noop(scrub.pii_scrub(base)), noop(scrub.script_profile(base))))[0]
        out["curate.gates_s"] = span(
            "curate.gates", lambda: noop(textstats.corpus_filter(base)))[0]
        keep = textstats.corpus_filter(base).filter("keep").select("doc_id")
        survivors = base.join(keep, "doc_id", "left_semi").persist()
        survivors.count()
        pairs_s, _, pairs_shuffle = span(
            "dedup.pairs", lambda: noop(dedup.minhash_verified_dups(survivors)))
        cand = dedup.minhash_lsh_pairs(survivors).count()
        pairs = dedup.minhash_verified_dups(survivors).select("a", "b").persist()
        verified = pairs.count()
        cc_s, cc_execs, cc_shuffle = span(
            "dedup.cc", lambda: noop(dedup.dedup_clusters(survivors, pairs)))
        clusters = dedup.dedup_clusters(survivors, pairs).persist()
        keepers = survivors.join(
            clusters.filter("is_keeper").select("doc_id"), "doc_id", "left_semi")
        out["curate.decontam_s"] = span(
            "curate.decontam", lambda: noop(decontam.decontaminate(keepers, ev)))[0]
        out["curate.split_s"] = span("curate.split", lambda: noop(
            sampling.split_train_eval(keepers.select("doc_id"), "doc_id", 5.0)))[0]
        for df in (clusters, pairs, survivors):
            df.unpersist()
        out.update({
            "dedup.pairs_s": pairs_s,
            "dedup.cc_s": cc_s,
            "dedup.candidate_pairs": cand,
            "dedup.verified_pairs": verified,
            "dedup.verify_yield": verified / cand if cand else 0.0,
            "dedup.cc_sql_executions": cc_execs,
            "dedup.shuffle_bytes": pairs_shuffle + cc_shuffle,
        })
        return out


# --------------------------------------------------------------------------
# cluster_stream
# --------------------------------------------------------------------------


class ClusterStream:
    """``streaming.cluster_stream.cluster_batch_writer`` driven in a closed
    loop over K disjoint slices -- each batch starts after the previous
    one commits, as in the availableNow drain of
    ``run_cluster_maintenance.py`` -- with ``current_clusters`` served
    after every commit."""

    def __init__(self, spark, in_dir: str, work: str, seed: int):
        self.spark = spark
        self.slices = sorted(glob.glob(os.path.join(in_dir, "slice-*.parquet")))
        self.work = work
        self.n_docs = sum(pq.read_metadata(p).num_rows for p in self.slices)
        self.finals: list[dict] = []

    def _drain(self, state: str, slices: list[str], sql=None) -> dict:
        from cvocr_spark.streaming import cluster_batch_writer, current_clusters

        _rm(state)
        writer = cluster_batch_writer(self.spark, state)
        batch_s, serve_s, execs, gen_bytes, raised = [], [], [], [], []
        final = {}
        t0 = time.perf_counter()
        for b, path in enumerate(slices):
            mark = sql.mark() if sql else None
            try:
                w, _ = timed(writer, self.spark.read.parquet(path), b)
            except Exception as e:  # a failed microbatch is counted, not fatal
                raised.append(f"batch {b}: {type(e).__name__}: {e}")
                continue
            if sql:
                execs.append(sql.since(mark)[0])
            batch_s.append(w)
            gen_bytes.append(du(os.path.join(state, "labels", f"gen_{b}")))
            w, rows = timed(lambda: current_clusters(self.spark, state).collect())
            serve_s.append(w)
            final = {r["doc_id"]: (r["cluster_id"], r["is_keeper"]) for r in rows}
        wall = time.perf_counter() - t0
        return {"wall_s": wall, "batch_s": batch_s, "serve_s": serve_s,
                "sql_execs": execs, "gen_bytes": gen_bytes, "raised": raised,
                "final": final, "state_bytes": du(state)}

    def run(self, i: int) -> Outcome:
        state = os.path.join(self.work, f"state-{i}")
        d = self._drain(state, self.slices)
        errors = []
        errors += d["raised"]
        if len(d["final"]) != self.n_docs:
            errors.append(f"served {len(d['final'])} docs of {self.n_docs}")
        self.finals.append(d["final"])
        if d["final"] != self.finals[0]:
            errors.append("final clustering differs between drains of one input")
        _rm(state)
        return Outcome(d["wall_s"], self.n_docs, d["state_bytes"], len(self.slices),
                       len(d["raised"]), errors,
                       {"batch_s": d["batch_s"], "serve_s": d["serve_s"]})

    def final_check(self) -> list[str]:
        """The served clustering equals ``dedup.dedup_clusters`` over the
        pairs found in arrival order (batch-local verified pairs plus
        cross-batch pairs against everything before) -- the equivalence
        of tests/test_streaming.py, at workload size."""
        from cvocr_spark.operators import dedup as dd

        spark = self.spark
        pairs = existing = None
        frames = []
        for path in self.slices:
            bdf = spark.read.parquet(path).select("doc_id", "text")
            frames.append(bdf)
            intra = dd.minhash_verified_dups(bdf, threshold=0.8).select("a", "b")
            newp = intra if existing is None else intra.unionByName(
                dd.dedup_incremental_pairs(bdf, existing, threshold=0.8))
            pairs = newp if pairs is None else pairs.unionByName(newp)
            existing = bdf if existing is None else existing.unionByName(bdf)
        corpus = frames[0]
        for f in frames[1:]:
            corpus = corpus.unionByName(f)
        want = {r["doc_id"]: (r["cluster_id"], r["is_keeper"])
                for r in dd.dedup_clusters(corpus, pairs).collect()}
        got = self.finals[-1] if self.finals else {}
        if got != want:
            diff = sum(1 for k in want if got.get(k) != want[k])
            return [f"served clustering differs from batch dedup_clusters on {diff} docs"]
        return []

    def layers(self, ctx) -> dict:
        state = os.path.join(self.work, "traced")
        with ctx.tracer.span("stream.drain"):
            d = self._drain(state, self.slices, ctx.sql)
        _rm(state)
        b = d["batch_s"]
        q = max(1, len(b) // 4)
        return {
            "stream.batch_p50_s": statistics.median(b),
            "stream.serve_p50_s": statistics.median(d["serve_s"]),
            "stream.label_bytes_per_batch": sum(d["gen_bytes"]) / len(d["gen_bytes"]),
            "stream.last_label_bytes": d["gen_bytes"][-1],
            "stream.state_bytes": d["state_bytes"],
            "stream.sql_executions_per_batch": statistics.median(d["sql_execs"]),
            "stream.batch_growth": (sum(b[-q:]) / q) / (sum(b[:q]) / q),
        }


WORKLOADS = {
    "extract_uniform": ("uniform", Extraction),
    "extract_crawl": ("crawl", Extraction),
    "curate": ("curate", Curate),
    "cluster_stream": ("stream", ClusterStream),
}
