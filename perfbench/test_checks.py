"""Each output check of the benchmark trips on a corrupted output.

    python3 -m pytest perfbench -q

The last test starts a local Spark session and runs the bloom_urls probe
itself, so a dropped shard is caught the way a timed run would catch it.
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import checks  # noqa: E402
import replay  # noqa: E402
from tracing import parse_metric  # noqa: E402


def small_filter(n: int = 20_000):
    from sparksketch.bloom import resolve_m0
    from sparksketch.config import BloomConfig
    cfg = BloomConfig()
    h1, h2 = replay.seeded_hashes(n, 7, cfg.shards, 1)
    m0 = resolve_m0(cfg, cfg.shards, n)
    state, _ = replay.build_state(cfg, cfg.shards, m0, replay.batches(h1, h2))
    return state, h1, h2


def drop_one_shard(state) -> None:
    del state.shards[min(state.shards)]
    state._stacked = None  # the probe index was built over the old shards


def bloom_out(state, **kv):
    out = {"false_negatives": 0, "false_positives": 0, "absent": 10**6,
           "key_count": state.key_count, "fpr_bound": state.fpr_bound(), "digest": "d"}
    out.update(kv)
    return out


def test_intact_filter_passes():
    state, h1, h2 = small_filter()
    assert not (~state.contains_hashes(h1, h2)).any()
    assert checks.bloom(bloom_out(state), h1.size, "d") == []


def test_dropped_shard_trips_false_negative_check():
    state, h1, h2 = small_filter()
    drop_one_shard(state)
    missing = int((~state.contains_hashes(h1, h2)).sum())
    assert missing > 0
    bad = checks.bloom(bloom_out(state, false_negatives=missing), h1.size, "d")
    assert any("false negatives" in b for b in bad)


def test_key_count_fp_and_digest_checks_trip():
    state, h1, _ = small_filter()
    assert any("key_count" in b for b in checks.bloom(bloom_out(state), h1.size + 1, "d"))
    lam = 10**6 * state.fpr_bound()
    too_many = int(lam + 10 * math.sqrt(lam) + 10)
    assert any("false positives" in b
               for b in checks.bloom(bloom_out(state, false_positives=too_many), h1.size, "d"))
    assert any("differs" in b for b in checks.bloom(bloom_out(state), h1.size, "other"))


def test_poisson_tail_and_fp_upper_bound():
    lam = 2.5
    direct = 1.0 - sum(math.exp(-lam) * lam**i / math.factorial(i) for i in range(4))
    assert checks.poisson_upper_tail(4, lam) == pytest.approx(direct)
    assert checks.poisson_upper_tail(0, lam) == 1.0
    # zero false positives still bounds the rate away from 0 (ln 20 / n)
    assert checks.fp_upper_bound(0, 10**6) == pytest.approx(math.log(20) / 10**6, rel=1e-6)
    assert checks.fp_upper_bound(0, 10**6) < checks.fp_upper_bound(1, 10**6)


EXACT = {"distinct_urls": 1_000_000, "distinct_by_lang": {"en": 500_000, "de": 60_000},
         "host_counts": {"h0000.example.com": 150_000, "h0003.example.com": 700},
         "length_hist": {"10": 50, "20": 50}}


def sketch_out(**kv):
    out = {"hll_distinct": 1_000_000.0, "hll_rel_err": 1.04 / 128,
           "hll_by_group": {"en": 500_000.0, "de": 60_000.0}, "hll_group_rel_err": 1.04 / 64,
           "cms": {"h0000.example.com": 150_000, "h0003.example.com": 700}, "cms_bound": 40.0,
           "kll": [10.0, 10.0, 10.0, 10.0, 20.0, 20.0, 20.0], "kll_eps": 0.02}
    out.update(kv)
    return out


def test_exact_sketch_answers_pass():
    bad, ratio = checks.sketches(sketch_out(), EXACT)
    assert bad == [] and ratio == 0.0


@pytest.mark.parametrize("change, needle, over_limit", [
    ({"hll_distinct": 1_100_000.0}, "hll_distinct", True),
    ({"hll_by_group": {"en": 500_000.0}}, "different set of groups", False),
    ({"hll_by_group": {"en": 500_000.0, "de": 70_000.0}}, "hll_by_group[de]", True),
    ({"cms": {"h0000.example.com": 149_999, "h0003.example.com": 700}}, "cms[h0000", False),
    ({"cms": {"h0000.example.com": 150_000, "h0003.example.com": 800}}, "cms[h0003", True),
    ({"kll": [20.0, 10.0, 10.0, 10.0, 20.0, 20.0, 20.0]}, "kll q=0.01", True),
])
def test_sketch_checks_trip(change, needle, over_limit):
    bad, ratio = checks.sketches(sketch_out(**change), EXACT)
    assert any(needle in b for b in bad)
    assert (ratio > 1.0) == over_limit


def test_dedup_checks_trip():
    first = {"n_docs": 10, "dup_grams": 5, "pairs": 3}
    assert checks.dedup(dict(first), first) == []
    assert any("dup_grams" in b for b in checks.dedup({**first, "dup_grams": 6}, first))
    assert any("pairs" in b for b in checks.dedup({**first, "pairs": 2}, first))
    assert checks.dedup({**first, "n_docs": 0}, None)


def test_parse_metric_formats():
    assert parse_metric("total (min, med, max (stageId: taskId))\n16.9 s (4.2 s, 4.2 s, "
                        "4.2 s (stage 1.0: task 3))") == pytest.approx(16_900)
    assert parse_metric("807.9 KiB") == pytest.approx(807.9 * 1024)
    assert parse_metric("100,000") == 100_000


@pytest.fixture(scope="module")
def spark():
    import harness
    harness.prepare_env()
    s = harness.start_session()
    yield s
    s.stop()


def test_dropped_shard_caught_by_the_workload_probe(spark):
    from pyspark.sql import functions as F
    from sparksketch.bloom import build_bloom
    from sparksketch.config import BloomConfig
    from workloads import probe_counts, probe_frame
    n = 5_000
    wp = spark.range(0, n, 1, 2).select(
        F.format_string("https://h%d.example.com/p%d", F.col("id") % 7, "id").alias("url"))
    state = build_bloom(wp, "url", BloomConfig(), expected_keys=n)
    fn, fp, absent = probe_counts(state, probe_frame(spark, wp, n, 1))
    assert (fn, absent) == (0, n)
    assert checks.bloom(bloom_out(state, false_negatives=fn, false_positives=fp, absent=absent),
                        n, None) == []
    drop_one_shard(state)
    fn, fp, absent = probe_counts(state, probe_frame(spark, wp, n, 1))
    assert fn > 0
    assert any("false negatives" in b
               for b in checks.bloom(bloom_out(state, false_negatives=fn), n, None))
