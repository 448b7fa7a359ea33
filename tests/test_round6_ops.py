"""Law tests for the round-6 operators (each also oracle-checked via
the harness): pure-Python reference implementations for the
iterative/sketch algorithms, plus the structural invariants the
value hash can't express (Bloom no-false-negatives, reservoir
bottom-k threshold)."""

from __future__ import annotations

import hashlib
from collections import Counter

from pyspark.sql import functions as F


def _word_freqs(spark, sf_dir):
    from syllabus_sense_spark.tables import load

    texts = [r.text for r in load(spark, sf_dir, "documents").select("text").collect()]
    freqs = Counter()
    for t in texts:
        for w in t.split(" "):
            if w:
                freqs[w] += 1
    return freqs


def _ref_bpe(freqs: Counter, n_merges: int):
    """Reference Sennrich BPE: greedy left-to-right merge over word
    types, argmax with (count desc, pair asc) tiebreak."""
    words = {tuple(w): f for w, f in freqs.items()}
    out = []
    for it in range(1, n_merges + 1):
        pairs = Counter()
        for seq, f in words.items():
            for a, b in zip(seq, seq[1:]):
                pairs[(a, b)] += f
        (a, b), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        out.append((it, a, b, a + b, cnt))
        merged = {}
        for seq, f in words.items():
            new, i = [], 0
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                    new.append(a + b)
                    i += 2
                else:
                    new.append(seq[i])
                    i += 1
            merged[tuple(new)] = merged.get(tuple(new), 0) + f
        words = merged
    return out


def test_bpe_merges_match_reference(spark, sf_dir):
    from syllabus_sense_spark.queries.ext_training6 import (
        _N_MERGES,
        training_bpe_merges,
    )

    got = sorted(
        (r.iter, r.pair_left, r.pair_right, r.merged, r.pair_count)
        for r in training_bpe_merges(spark, sf_dir).collect()
    )
    want = _ref_bpe(_word_freqs(spark, sf_dir), _N_MERGES)
    assert got == want


def test_countmin_laws_and_reference(spark, sf_dir):
    from syllabus_sense_spark.queries.ext_sketches2 import (
        _P,
        _ROWS,
        _TOPK,
        _W,
        sketch_countmin_heavy_hitters,
    )
    from syllabus_sense_spark.tables import load

    rows = sketch_countmin_heavy_hitters(spark, sf_dir).collect()
    assert len(rows) == _TOPK
    # CM guarantee: never underestimates
    for r in rows:
        assert r.cm_estimate >= r.true_cnt
    # exact reference sketch from the true per-key counts
    cnt = Counter(
        r.l_partkey
        for r in load(spark, sf_dir, "lineitem").select("l_partkey").collect()
    )
    cells = [Counter() for _ in _ROWS]
    for key, c in cnt.items():
        for i, (a, b) in enumerate(_ROWS):
            cells[i][((a * key + b) % _P) % _W] += c
    for r in rows:
        assert cnt[r.l_partkey] == r.true_cnt
        est = min(
            cells[i][((a * r.l_partkey + b) % _P) % _W]
            for i, (a, b) in enumerate(_ROWS)
        )
        assert est == r.cm_estimate


def test_bloom_prefilter_no_false_negatives(spark, sf_dir):
    from syllabus_sense_spark.queries.ext_dedup4 import dedup_bloom_prefilter
    from syllabus_sense_spark.tables import load

    rows = dedup_bloom_prefilter(spark, sf_dir).collect()
    docs = load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    probe_ids = {r.doc_id for r in docs if r.doc_id % 2 == 1}
    assert {r.doc_id for r in rows} == probe_ids and len(rows) == len(probe_ids)
    # the Bloom contract: a true duplicate is NEVER filtered out
    for r in rows:
        if r.is_dup:
            assert r.bloom_pos == 1
    # ground truth from md5 prefixes
    fp = {
        r.doc_id: int(hashlib.md5(r.text.encode()).hexdigest()[:12], 16) for r in docs
    }
    index_fps = {fp[i] for i in fp if i % 2 == 0}
    for r in rows:
        assert r.is_dup == (1 if fp[r.doc_id] in index_fps else 0)
    # non-vacuity: the dup flag must fire exactly when the corpus has
    # cross-parity duplicates (it does at sf0.01; sf0.001's planted
    # dups may land on one parity, in which case zero is correct)
    n_cross = sum(1 for i in fp if i % 2 == 1 and fp[i] in index_fps)
    assert sum(r.is_dup for r in rows) == n_cross
    # and the filter itself is non-trivially selective: some probes
    # are rejected (all-positive would mean the bit set saturated)
    assert any(r.bloom_pos == 0 for r in rows)


def test_reservoir_bottom_k_threshold(spark, sf_dir):
    from syllabus_sense_spark.queries.ext_training7 import (
        _K,
        _KNUTH,
        _MOD,
        sample_reservoir_per_group,
    )
    from syllabus_sense_spark.tables import load

    rows = {r.source: r for r in sample_reservoir_per_group(spark, sf_dir).collect()}
    docs = load(spark, sf_dir, "documents").select("source", "doc_id").collect()
    by_src = {}
    for r in docs:
        by_src.setdefault(r.source, []).append(r.doc_id)
    assert set(rows) == set(by_src)
    for src, ids in by_src.items():
        ranked = sorted(ids, key=lambda d: ((d * _KNUTH) % _MOD, d))
        kept = ranked[:_K]
        r = rows[src]
        assert r.n_sampled == min(_K, len(ids))
        assert r.sum_doc_id == sum(kept)
        # the persisted ceiling admits exactly the kept set: every
        # excluded doc's hash is strictly above it (ties broken by id
        # cannot straddle the boundary with distinct hashes)
        assert r.hash_ceiling == max((d * _KNUTH) % _MOD for d in kept)
        if len(ids) > _K:
            assert (ranked[_K] * _KNUTH) % _MOD >= r.hash_ceiling


def test_bpe_encode_merge_mass_law(spark, sf_dir):
    """Each merge of a pair occurring c times (weighted) shrinks the
    corpus token mass by exactly c — so the encode output must tie
    out against the merge table: after = before − Σ pair_count."""
    from syllabus_sense_spark.queries.ext_training6 import (
        training_bpe_encode,
        training_bpe_merges,
    )

    merges = training_bpe_merges(spark, sf_dir).collect()
    enc = training_bpe_encode(spark, sf_dir).collect()[0]
    assert enc.tokens_after == enc.tokens_before - sum(m.pair_count for m in merges)
    freqs = _word_freqs(spark, sf_dir)
    assert enc.n_word_types == len(freqs)
    assert enc.n_words == sum(freqs.values())
    assert enc.tokens_before == sum(len(w) * f for w, f in freqs.items())


def test_label_propagation_matches_reference(spark, sf_dir):
    from syllabus_sense_spark.queries.ext_graph3 import (
        _MIN_SUPPORT,
        copurchase_pairs,
    )
    from syllabus_sense_spark.queries.ext_graph4 import (
        _N_ROUNDS,
        graph_label_propagation,
    )

    pair_rows = Counter(
        (r.pa, r.pb) for r in copurchase_pairs(spark, sf_dir).collect()
    )
    edges = {p for p, n in pair_rows.items() if n >= _MIN_SUPPORT}
    adj = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    labels = {n: n for n in adj}
    for _ in range(_N_ROUNDS):
        nxt = {}
        for n, nbrs in adj.items():
            votes = Counter(labels[m] for m in nbrs)
            nxt[n] = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        labels = nxt
    got = {r.part_key: r.community for r in graph_label_propagation(spark, sf_dir).collect()}
    assert got == labels
    # communities actually form: strictly fewer labels than nodes
    assert len(set(got.values())) < len(got)


def test_weighted_median_matches_reference(spark, sf_dir):
    from syllabus_sense_spark.queries.agg_families4 import agg_weighted_median
    from syllabus_sense_spark.tables import load

    rows = {r.l_returnflag: r for r in agg_weighted_median(spark, sf_dir).collect()}
    data = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    ).collect()
    by_flag = {}
    for r in data:
        by_flag.setdefault(r.l_returnflag, []).append(
            (round(r.l_extendedprice, 2), int(r.l_quantity))
        )
    assert set(rows) == set(by_flag)
    for flag, vw in by_flag.items():
        vw.sort()
        tot = sum(w for _, w in vw)
        cum = 0
        for v, w in vw:
            cum += w
            if 2 * cum >= tot:
                break
        assert rows[flag].weighted_median_price == v
        assert rows[flag].total_weight == tot


def test_hybrid_rrf_output_laws(spark, sf_dir):
    from syllabus_sense_spark.queries.ext_search2 import (
        _K_RRF,
        _TOPK,
        search_hybrid_rrf,
    )
    import math

    rows = search_hybrid_rrf(spark, sf_dir).collect()
    assert rows
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        assert 1 <= len(rs) <= _TOPK
        # the reported score must tie out against the reported ranks
        # (rank 0 = absent from that ranker's shortlist → no term)
        for r in rs:
            want = 0.0
            if r.kw_rank:
                want += 1.0 / (_K_RRF + r.kw_rank)
            if r.sem_rank:
                want += 1.0 / (_K_RRF + r.sem_rank)
            assert r.rrf_e9 == math.floor(want * 1e9)
            assert r.kw_rank or r.sem_rank
        fused = sorted((x.rrf_e9 for x in rs), reverse=True)
        assert fused == [x.rrf_e9 for x in sorted(rs, key=lambda y: (-y.rrf_e9, y.doc_id))]


def test_native_session_window_conservation(spark, sf_dir):
    from syllabus_sense_spark.queries.events9 import (
        _GAP_US,
        events_sessionize_native,
    )
    from syllabus_sense_spark.tables import load

    rows = events_sessionize_native(spark, sf_dir).collect()
    n_events = load(spark, sf_dir, "events").count()
    # every event lands in exactly one session
    assert sum(r.n_events for r in rows) == n_events
    for r in rows:
        # end = last event + gap → span is always ≥ the gap itself
        assert r.session_end_us - r.session_start_us >= _GAP_US
        assert r.n_events >= 1


def test_crypto_gcm_nondeterministic_but_roundtrips(spark):
    from pyspark.sql import functions as F

    from syllabus_sense_spark.queries.scalar_funcs4 import _KEY

    df = spark.range(1).select(
        F.expr(f"aes_encrypt('same plaintext', '{_KEY}')").alias("c1"),
        F.expr(f"aes_encrypt('same plaintext', '{_KEY}')").alias("c2"),
    ).select(
        (F.col("c1") == F.col("c2")).alias("same_ct"),
        F.expr(f"CAST(aes_decrypt(c1, '{_KEY}') AS STRING)").alias("p1"),
        F.expr(f"CAST(aes_decrypt(c2, '{_KEY}') AS STRING)").alias("p2"),
    )
    r = df.collect()[0]
    assert not r.same_ct  # GCM: fresh IV per call
    assert r.p1 == r.p2 == "same plaintext"


def test_catalog_table_registered_and_partitioned(spark, sf_dir):
    from syllabus_sense_spark.queries.catalog_queries import (
        catalog_managed_table_roundtrip,
    )

    before = {t.name for t in spark.catalog.listTables()}
    df = catalog_managed_table_roundtrip(spark, sf_dir)
    new = [
        t.name
        for t in spark.catalog.listTables()
        # the _batch2 temp view is scaffolding, not the managed table
        if t.name.startswith("events_cat_")
        and not t.name.endswith("_batch2")
        and t.name not in before
    ]
    assert len(new) == 1 and not df.isEmpty()
    cols = {c.name: c.isPartition for c in spark.catalog.listColumns(new[0])}
    assert cols.get("event_type") is True
    spark.sql(f"DROP TABLE {new[0]}")


def test_kmv_sketch_laws(spark, sf_dir):
    from syllabus_sense_spark.queries.ext_sketches3 import (
        _K,
        _KNUTH,
        _M,
        sketch_kmv_distinct,
    )
    from syllabus_sense_spark.tables import load

    rows = {r.event_type: r for r in sketch_kmv_distinct(spark, sf_dir).collect()}
    ev = load(spark, sf_dir, "events").select("event_type", "user_id").collect()
    by_type = {}
    all_h = set()
    for r in ev:
        h = (r.user_id * _KNUTH) % _M
        by_type.setdefault(r.event_type, set()).add(h)
        all_h.add(h)
    assert set(rows) == set(by_type) | {"__all__"}
    for t, hs in list(by_type.items()) + [("__all__", all_h)]:
        r = rows[t]
        assert r.n_exact == len(hs)
        assert r.n_kept == min(_K, len(hs))
        kept = sorted(hs)[: _K]
        assert r.kth_hash == max(kept)
        if len(hs) < _K:
            assert r.kmv_estimate == len(hs)  # sketch IS the set
        else:
            assert r.kmv_estimate == (_K - 1) * _M // max(kept)
            # estimator sanity at k=64 (SE ~ 1/8): within 50% of truth
            assert 0.5 * len(hs) <= r.kmv_estimate <= 1.5 * len(hs)


def test_concurrent_sessions_sweep_laws(spark, sf_dir):
    from syllabus_sense_spark.queries.events12 import events_concurrent_sessions

    rows = sorted(
        events_concurrent_sessions(spark, sf_dir).collect(), key=lambda r: r.hour
    )
    assert rows
    run = 0
    for r in rows:
        run += r.n_starts - r.n_ends
        assert run == r.active_end
        assert r.active_end >= 0  # can't close more sessions than opened
    # every opened session eventually closes → the sweep returns to 0
    assert rows[-1].active_end == 0
    assert sum(r.n_starts for r in rows) == sum(r.n_ends for r in rows)
