"""The two workloads.  Each is closed-loop: one caller, one library call at
a time.  ``prepare`` computes what the checks need (once per corpus, cached
beside it); ``iteration`` rebuilds every DataFrame, clears
Spark's cache before each call, times the calls through the tracer, checks
their outputs and returns what it measured.

``rows`` in an iteration's result counts the corpus rows each call reads
(a call reading the corpus twice over counts it once), so that
``rows / seconds`` is comparable across workloads.
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from contextlib import contextmanager

import numpy as np
from pyspark.sql import functions as F

import checks
import replay
from harness import Corpus, digest, nproc
from tracing import PY_NODES, PY_RECV, PY_SENT, PY_TIME

BLOOM_PAGES = 200_000
DEDUP_PAGES = 50_000
REPLAY_KEYS = 100_000
MB = 1e6


class Iteration:
    def __init__(self):
        self.calls = []      # CallTrace per timed call
        self.rows = 0        # corpus rows read by the timed calls
        self.failures = []   # output-check failures
        self.layers = {}     # per-layer metrics
        self.traced = False

    @property
    def call_s(self) -> float:
        return sum(c.wall_s for c in self.calls)


def _session_layers(it: Iteration) -> dict:
    stages = [s for c in it.calls for s in c.stages]
    slowest = max(stages, key=lambda s: s["run_s"], default=None)
    return {
        "session.shuffle_write_mb": sum(s["shuffle_write_b"] for s in stages) / MB,
        "session.shuffle_write_s": sum(s["shuffle_write_s"] for s in stages),
        "session.shuffle_read_mb": sum(s["shuffle_read_b"] for s in stages) / MB,
        "session.spill_mb": sum(s["spill_b"] for s in stages) / MB,
        "session.gc_s": sum(s["gc_s"] for s in stages),
        "session.task_skew": slowest["skew"] if slowest else 0.0,
        "session.jobs": sum(len(c.jobs) for c in it.calls),
        "session.stages": len(stages),
    }


def _py_s(ct, names=None) -> float:
    return ct.node_sum(names or PY_NODES, PY_TIME) / 1e3


def _py_mb(ct, metric: str, names=None) -> float:
    return ct.node_sum(names or PY_NODES, metric) / MB


class Workload:
    name = ""
    pages = 0
    min_iterations = 1

    def __init__(self, spark, tracer, corpus: Corpus, seed: int):
        self.spark, self.tracer, self.corpus = spark, tracer, corpus
        self.seed = seed
        self.meta = corpus.load()
        self.warm_up_calls: dict[str, float] = {}
        self.slice = 1  # read() keeps the pages whose url hash is 0 mod this

    def prepare(self) -> None:
        """Untimed work the checks need, once per corpus; none by default."""

    def clear(self) -> None:
        self.spark.catalog.clearCache()

    def read(self):
        wp = self.spark.read.parquet(str(self.corpus.path))
        if self.slice == 1:
            return wp
        return wp.where(F.xxhash64("url") % self.slice == 0)

    @contextmanager
    def sliced(self, n: int):
        self.slice = n
        try:
            yield
        finally:
            self.slice = 1

    def warm_up(self) -> None:
        """Untimed calls before the first timed iteration; none by default.
        Their wall times go to ``warm_up_calls``."""

    def iteration(self, parent: int | None) -> Iteration:
        raise NotImplementedError


# ---------------------------------------------------------------- bloom


def probe_frame(spark, wp, n: int, seed: int):
    """The ``n`` inserted urls of ``wp`` plus ``n`` urls of a host no corpus
    page has, each flagged ``_inserted``."""
    absent = spark.range(0, n, 1, nproc()).select(
        F.format_string(f"https://absent-{seed}.example.org/q%d", "id").alias("url"),
        F.lit(False).alias("_inserted"))
    return wp.select("url", F.lit(True).alias("_inserted")).unionByName(absent)


def probe_counts(state, probe_df) -> tuple[int, int, int]:
    """(false negatives, false positives, absent probes) of ``state`` over
    a :func:`probe_frame`, through the library's broadcast probe."""
    from sparksketch.bloom import with_membership
    inserted, member = F.col("_inserted"), F.col("is_member")
    row = (with_membership(probe_df, "url", state)
           .agg(F.sum((inserted & ~member).cast("int")).alias("fn"),
                F.sum((~inserted & member).cast("int")).alias("fp"),
                F.sum((~inserted).cast("int")).alias("absent"))
           .collect()[0])
    return int(row["fn"]), int(row["fp"]), int(row["absent"])


class BloomUrls(Workload):
    """The url-keyed mergeable sketches on one corpus: ``build_bloom`` with
    the library defaults and its broadcast probe over the N inserted urls
    plus N absent ones, then the four HLL/CMS/KLL partial-and-fold calls."""

    name = "bloom_urls"
    pages = BLOOM_PAGES
    WARM_UP_SLICE = 256

    def warm_up(self) -> None:
        """``build_bloom`` once, unchecked, on a 1/256 slice of the corpus:
        spawns and warms the Python workers the tree merge runs in and
        compiles the JVM's read and route paths.  A first build is about a
        quarter slower than one after this, and spreads more between runs."""
        from sparksketch.bloom import build_bloom
        from sparksketch.config import BloomConfig
        with self.sliced(self.WARM_UP_SLICE):
            wp = self.read()
            with self.tracer.call("bloom.build_bloom") as build:
                build_bloom(wp, "url", BloomConfig(), expected_keys=self.pages // self.slice)
        self.warm_up_calls = {build.name: build.wall_s}

    def prepare(self) -> None:
        """Compute the checks' exact answers in a child process, once per
        corpus: the memory pyarrow keeps after the scan would otherwise stay
        in this process and count in peak_rss_mb on first runs only."""
        if "exact" not in self.meta:
            out = subprocess.run([sys.executable, checks.__file__, str(self.corpus.path)],
                                 check=True, capture_output=True, text=True).stdout
            self.meta = self.corpus.update(exact=json.loads(out))

    def iteration(self, parent):
        from sparksketch.bloom import build_bloom
        from sparksketch.config import BloomConfig
        it = Iteration()
        n = self.pages
        wp = self.read()
        self.clear()
        with self.tracer.call("bloom.build_bloom", parent) as build:
            state = build_bloom(wp, "url", BloomConfig(), expected_keys=n)
        blob = state.to_bytes()
        probe_df = probe_frame(self.spark, self.read(), n, self.seed)
        self.clear()
        with self.tracer.call("bloom.with_membership", parent) as probe:
            fn, fp, absent = probe_counts(state, probe_df)
        sketch_calls, sketches = self._sketch_calls(parent)
        it.calls += [build, probe, *sketch_calls]
        it.rows = 7 * n  # built once, probed twice over, read by four sketches

        out = {"false_negatives": fn, "false_positives": fp, "absent": absent,
               "key_count": state.key_count, "fpr_bound": state.fpr_bound(),
               "digest": digest(blob)}
        first = self.meta.get("bloom_digest")
        it.failures = checks.bloom(out, self.meta["exact"]["guarded_urls"], first)
        if first is None and not it.failures:
            self.meta = self.corpus.update(bloom_digest=out["digest"])
        sketch_failures, ratio = checks.sketches(self._sketch_out(*sketches), self.meta["exact"])
        it.failures += sketch_failures
        it.layers = {
            "bloom.build_docs_per_s": n / build.wall_s,
            "bloom.probe_keys_per_s": absent * 2 / probe.wall_s,
            "bloom.fp_rate": checks.fp_upper_bound(fp, absent),
            "bloom.filter_mb": len(blob) / MB,
            "sketch.rows_per_s": 4 * n / sum(c.wall_s for c in sketch_calls),
            "sketch.error_ratio": ratio,
        }
        if self.tracer.enabled:
            it.layers.update(self._trace_layers(build, probe, blob, parent))
            it.layers.update(self._sketch_layers(*sketch_calls))
        return it

    def _sketch_calls(self, parent):
        from sparksketch import cms, hll, kll
        from sparksketch.sketch import estimate_col
        from sparksketch.webtext import host_of
        wp = self.read()
        self.clear()
        with self.tracer.call("hll.hll_distinct", parent) as c_hll:
            distinct = hll.hll_distinct(wp, "url", p=14)
        wp = self.read()
        self.clear()
        with self.tracer.call("hll.hll_by_group", parent) as c_grp:
            groups = (hll.hll_by_group(wp, "lang", "url", p=12)
                      .select("group", estimate_col(hll.HLL)("state").alias("est"))
                      .collect())
        hosts = self.read().select(host_of("url").alias("host"))
        self.clear()
        with self.tracer.call("cms.cms_build", parent) as c_cms:
            cm = cms.cms_build(hosts, "host", d=5, w=65536)
        lens = self.read().select(F.length("text").alias("text_len"))
        self.clear()
        with self.tracer.call("kll.kll_build", parent) as c_kll:
            kl = kll.kll_build(lens, "text_len")
        return [c_hll, c_grp, c_cms, c_kll], (distinct, groups, cm, kl)

    def _sketch_out(self, distinct, groups, cm, kl) -> dict:
        from sparksketch import cms, hll
        from sparksketch.hashing import spark_xxhash64
        names = list(self.meta["exact"]["host_counts"])
        h1 = np.array([spark_xxhash64(h, cms.CMS_SEEDS[0]) for h in names], dtype=np.uint64)
        h2 = np.array([spark_xxhash64(h, cms.CMS_SEEDS[1]) for h in names], dtype=np.uint64)
        return {
            "hll_distinct": distinct, "hll_rel_err": hll.HLL(14).rel_error(),
            "hll_by_group": {r["group"]: r["est"] for r in groups},
            "hll_group_rel_err": hll.HLL(12).rel_error(),
            "cms": dict(zip(names, cm.query_hashes(h1, h2).tolist())),
            "cms_bound": cm.error_bound(),
            "kll": [kl.quantile(q) for q in checks.KLL_QUANTILES], "kll_eps": kl.eps(),
        }

    @staticmethod
    def _sketch_layers(c_hll, c_grp, c_cms, c_kll) -> dict:
        calls = (c_hll, c_grp, c_cms, c_kll)
        return {
            "hll.distinct_s": c_hll.wall_s, "hll.by_group_s": c_grp.wall_s,
            "cms.build_s": c_cms.wall_s, "kll.build_s": c_kll.wall_s,
            "sketch.python_s": sum(_py_s(c) for c in calls),
            "sketch.arrow_in_mb": sum(_py_mb(c, PY_SENT) for c in calls),
            "sketch.partials": sum(c.node_sum(("MapInArrow",), "number of output rows")
                                   for c in calls),
            "sketch.driver_s": sum(c.driver_s() for c in calls),
        }

    def _trace_layers(self, build, probe, blob, parent) -> dict:
        """The driver-merge decomposition of the same build (states, collect,
        fold) and the probe index build, traced separately from the timed
        calls."""
        from sparksketch.bloom import BloomFilterState, build_bloom_states
        from sparksketch.config import BloomConfig
        n = self.pages
        wp = self.read()
        self.clear()
        with self.tracer.call("bloom.collect", parent) as collect:
            states, _ = build_bloom_states(wp, "url", BloomConfig(), expected_keys=n)
            blobs = [bytes(r[0]) for r in states.select("state").collect()]
        t0 = time.perf_counter()
        acc = BloomFilterState.from_bytes(blobs[0])
        for b in blobs[1:]:
            acc.merge_into(BloomFilterState.from_bytes(b))
        fold_s = time.perf_counter() - t0
        if acc.to_bytes() != blob:
            raise AssertionError("driver-merged filter differs from build_bloom's")
        h = np.zeros(1, dtype=np.int64)
        t0 = time.perf_counter()
        BloomFilterState.from_bytes(blob).contains_hashes(h, h)
        index_s = time.perf_counter() - t0
        return {
            "bloom.build_python_s": _py_s(collect, ("MapInArrow",)),
            "bloom.build_arrow_in_mb": _py_mb(collect, PY_SENT, ("MapInArrow",)),
            "bloom.build_arrow_out_mb": _py_mb(collect, PY_RECV, ("MapInArrow",)),
            "bloom.shard_blobs": len(blobs),
            "bloom.collect_s": collect.wall_s,
            "bloom.fold_s": fold_s,
            "bloom.probe_python_s": _py_s(probe),
            "bloom.probe_index_s": index_s,
        }

    def run_replay(self) -> dict:
        r = replay.run(REPLAY_KEYS, self.seed, self.pages, nproc())
        return {"hashing.insert_keys_per_s": r["insert_keys_per_s"],
                "hashing.probe_keys_per_s": r["probe_keys_per_s"]}


# ---------------------------------------------------------------- dedup


class TextDedup(Workload):
    """Both dedup operators over full page text: the k-gram duplicated-span
    stats and the minhash near-duplicate pairs."""

    name = "text_dedup"
    pages = DEDUP_PAGES
    min_iterations = 2
    WARM_UP_SLICE = 4

    def _docs(self):
        return (self.read().repartition(nproc())
                .select(F.xxhash64("url").alias("doc_id"), "text"))

    def _calls(self, parent):
        from sparksketch.dedup import kgram_dup_stats, minhash_dedup_pairs
        docs = self._docs()
        self.clear()
        with self.tracer.call("dedup.kgram_dup_stats", parent) as c_kg:
            row = (kgram_dup_stats(docs, "text", "doc_id", k=32, sample_mod=8)
                   .agg(F.count("*").alias("docs"), F.sum("n_dup_grams").alias("dup"))
                   .collect()[0])
        docs = self._docs()
        self.clear()
        with self.tracer.call("dedup.minhash_dedup_pairs", parent) as c_mh:
            pairs = minhash_dedup_pairs(docs, "text", "doc_id", threshold=0.8).count()
        cached = sum(r.memSize() for r in self.spark.sparkContext._jsc.sc().getRDDStorageInfo())
        self.clear()
        out = {"n_docs": int(row["docs"]), "dup_grams": int(row["dup"] or 0), "pairs": int(pairs)}
        return [c_kg, c_mh], out, cached

    def warm_up(self) -> None:
        """The calls once, unchecked, on a 1/4 slice of the corpus: imports
        the library in every Python worker and compiles the JVM's hot
        paths.  The calls' cost is mostly per-call overhead, so the slice
        warms about as well as the whole corpus."""
        with self.sliced(self.WARM_UP_SLICE):
            calls, _, _ = self._calls(None)
        self.warm_up_calls = {c.name: c.wall_s for c in calls}

    def iteration(self, parent):
        it = Iteration()
        it.calls, out, cached = self._calls(parent)
        it.rows = 2 * self.pages
        first = self.meta.get("dedup_outputs")
        it.failures = checks.dedup(out, first)
        if first is None and not it.failures:
            self.meta = self.corpus.update(dedup_outputs=out)
        it.layers = {"dedup.docs_per_s": self.pages / it.call_s}
        if self.tracer.enabled:
            c_kg, c_mh = it.calls
            it.layers.update({
                "dedup.kgram_s": c_kg.wall_s, "dedup.minhash_s": c_mh.wall_s,
                "dedup.python_s": sum(_py_s(c) for c in it.calls),
                "dedup.arrow_in_mb": sum(_py_mb(c, PY_SENT) for c in it.calls),
                "dedup.corpus_passes": sum(c.corpus_passes() for c in it.calls),
                "dedup.cached_mb": cached / MB,
            })
        return it


WORKLOADS = {w.name: w for w in (BloomUrls, TextDedup)}
