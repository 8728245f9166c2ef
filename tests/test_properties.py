"""Property-based tests (SURVEY §5.5) — hypothesis over small random
series, few examples per property (each example is a Spark job)."""

import math
from datetime import datetime, timedelta

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.cumulative import cumulative_fraction
from curw_flo2d_data_manager_spark.operators.resample import resample_sum
from curw_flo2d_data_manager_spark.sinks.upsert import merge_upsert

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# 5-min-aligned series: offsets in 5-min steps over two hours, values
# with a few decimals (exact in float arithmetic comparisons after round)
series_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=24),
        st.floats(min_value=-5, max_value=50, allow_nan=False, width=16),
    ),
    min_size=1,
    max_size=20,
    unique_by=lambda t: t[0],
)


def _to_df(spark, series):
    base = datetime(2024, 1, 1)
    return spark.createDataFrame(
        [(base + timedelta(minutes=5 * off), float(v)) for off, v in series],
        "time timestamp, value double",
    )


@SETTINGS
@given(series=series_strategy)
def test_resample_matches_pandas_right_closed(spark, series):
    """Engine right-closed 15-min resample == pandas
    resample('15min', label='right', closed='right').sum() — the exact
    reference semantics (gen_rain.py:162-163)."""
    df = _to_df(spark, series)
    got = {
        r.time: r.value for r in resample_sum(df, 15).collect()
    }
    pdf = pd.DataFrame(
        [(datetime(2024, 1, 1) + timedelta(minutes=5 * off), v) for off, v in series],
        columns=["time", "value"],
    ).set_index("time")
    want = pdf.resample("15min", label="right", closed="right").sum()
    want = {ts.to_pydatetime(): v for ts, v in want["value"].items() if not pd.isna(v)}
    # pandas emits empty buckets as 0.0 only when within range; engine
    # emits no row — compare on the engine's buckets and totals
    assert sum(got.values()) == pytest.approx(sum(v for _, v in series))
    for t, v in got.items():
        assert t in want, f"bucket {t} not in pandas result {sorted(want)}"
        assert v == pytest.approx(want[t])


@SETTINGS
@given(series=series_strategy)
def test_cumulative_fraction_invariants(spark, series):
    """Fraction is 0 when total<=0; else ends at 1.0; running sum is
    order-correct; non-negative series give monotone fractions in [0,1]."""
    df = _to_df(spark, series)
    rows = (
        cumulative_fraction(df, time_col="time")
        .orderBy("time")
        .collect()
    )
    total = sum(v for _, v in series)
    fracs = [r.cum_fraction for r in rows]
    if total == 0:
        assert all(f == 0.0 for f in fracs)
    else:
        assert fracs[-1] == pytest.approx(1.0)
    if all(v >= 0 for _, v in series) and total > 0:
        assert all(0.0 <= f <= 1.0 + 1e-9 for f in fracs)
        assert all(a <= b + 1e-9 for a, b in zip(fracs, fracs[1:]))


@SETTINGS
@given(
    existing_keys=st.lists(st.integers(0, 20), min_size=1, max_size=15, unique=True),
    incoming_keys=st.lists(st.integers(0, 20), min_size=1, max_size=15, unique=True),
)
def test_merge_upsert_idempotent_and_keyed(spark, existing_keys, incoming_keys):
    """K7 invariants: merging is keyed (no duplicate keys), incoming
    wins, and re-merging the same delta is a no-op."""
    existing = spark.createDataFrame([(k, "old") for k in existing_keys], "k int, v string")
    incoming = spark.createDataFrame([(k, "new") for k in incoming_keys], "k int, v string")
    merged = merge_upsert(existing, incoming, ["k"]).cache()
    got = {r.k: r.v for r in merged.collect()}
    assert set(got) == set(existing_keys) | set(incoming_keys)
    for k in incoming_keys:
        assert got[k] == "new"
    for k in set(existing_keys) - set(incoming_keys):
        assert got[k] == "old"
    again = {r.k: r.v for r in merge_upsert(merged, incoming, ["k"]).collect()}
    assert again == got


# random per-user event offsets in seconds over ~4 hours
events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=2),  # user
        st.integers(min_value=0, max_value=14_400),  # seconds offset
    ),
    min_size=1,
    max_size=25,
    unique_by=lambda t: (t[0], t[1]),
)


@SETTINGS
@given(events=events_strategy, gap_s=st.sampled_from([60, 600, 1800]))
def test_sessionize_partitions_by_gap(spark, events, gap_s):
    """Sessionization invariants for any event set: consecutive events
    in one session are <= gap apart; consecutive sessions are > gap
    apart; session numbering per user is 1..n_sessions in time order."""
    from curw_flo2d_data_manager_spark.operators.sessionize import sessionize

    base = datetime(2024, 1, 1)
    rows = [
        (u, i, base + timedelta(seconds=off))
        for i, (u, off) in enumerate(sorted(set(events)))
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    out = (
        sessionize(
            df, ts_col="ts", key_cols=["user_id"], gap_seconds=float(gap_s),
            tiebreak_cols=["event_id"],
        )
        .orderBy("user_id", "ts", "event_id")
        .collect()
    )
    per_user: dict = {}
    for r in out:
        per_user.setdefault(r["user_id"], []).append((r["ts"], r["session_seq"]))
    for seq in per_user.values():
        assert seq[0][1] == 1
        for (t0, s0), (t1, s1) in zip(seq, seq[1:]):
            delta = (t1 - t0).total_seconds()
            if s1 == s0:
                assert delta <= gap_s
            else:
                assert s1 == s0 + 1
                assert delta > gap_s


asof_left_strategy = st.lists(
    st.tuples(st.integers(0, 1), st.integers(0, 600)),
    min_size=1, max_size=15, unique_by=lambda t: t,
)
asof_right_strategy = st.lists(
    st.tuples(st.integers(0, 1), st.integers(0, 600),
              st.floats(-10, 10, allow_nan=False, width=16)),
    min_size=1, max_size=15, unique_by=lambda t: (t[0], t[1]),
)


@SETTINGS
@given(left=asof_left_strategy, right=asof_right_strategy)
def test_asof_join_matches_pandas_merge_asof(spark, left, right):
    """Engine as-of join == pandas merge_asof(by=key, direction=
    'backward') for any keyed point sets — the canonical reference
    implementation of the operator."""
    from curw_flo2d_data_manager_spark.operators.asof import asof_join

    base = datetime(2024, 1, 1)
    ldf = spark.createDataFrame(
        [(k, base + timedelta(seconds=s)) for k, s in left],
        "k int, time timestamp",
    )
    rdf = spark.createDataFrame(
        [(k, base + timedelta(seconds=s), v) for k, s, v in right],
        "k int, time timestamp, v double",
    )
    got = {
        (r.k, r.time): r.v_right
        for r in asof_join(ldf, rdf, by=["k"]).collect()
    }

    lp = pd.DataFrame(
        [(k, base + timedelta(seconds=s)) for k, s in left], columns=["k", "time"]
    ).sort_values("time")
    rp = pd.DataFrame(
        [(k, base + timedelta(seconds=s), v) for k, s, v in right],
        columns=["k", "time", "v"],
    ).sort_values("time")
    want_df = pd.merge_asof(lp, rp, on="time", by="k", direction="backward")
    want = {
        (int(r.k), r.time.to_pydatetime()): (None if pd.isna(r.v) else r.v)
        for r in want_df.itertuples()
    }
    assert got == want


doc_strategy = st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=30),
    min_size=1, max_size=12,
)


@SETTINGS
@given(texts=doc_strategy)
def test_minhash_threshold_one_is_exactly_identical_shingle_sets(spark, texts):
    """At jaccard_threshold=1.0, MinHash+LSH must return EXACTLY the
    pairs with identical shingle sets (the planted-oracle invariant
    behind the dedup_minhash_lsh gate), for arbitrary tiny corpora
    including empty/whitespace-only documents."""
    from curw_flo2d_data_manager_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", num_hashes=16, bands=4, jaccard_threshold=1.0
        ).collect()
    }

    def shingles(t):
        w = " ".join(t.lower().split()).split() if t.strip() else []
        if len(w) >= 3:
            return frozenset(" ".join(w[i:i + 3]) for i in range(len(w) - 2))
        return frozenset({" ".join(w)})

    sets = [shingles(t) for t in texts]
    want = {
        (a, b)
        for a in range(len(texts))
        for b in range(a + 1, len(texts))
        if sets[a] == sets[b]
    }
    assert got == want


@SETTINGS
@given(
    words_a=st.lists(st.sampled_from(["alpha", "bravo", "car", "delta", "echo"]),
                     min_size=3, max_size=12),
    words_b=st.lists(st.sampled_from(["zulu", "yank", "xray", "whisk", "victor"]),
                     min_size=3, max_size=12),
    shared=st.lists(st.sampled_from(["flood", "stage", "basin", "gauge"]),
                    min_size=4, max_size=8),
)
def test_winnowing_shared_substring_property(spark, words_a, words_b, shared):
    """Property form of the winnowing guarantee: ANY two documents
    embedding the same >= k+window-1-char passage share at least one
    fingerprint, regardless of surrounding context."""
    from curw_flo2d_data_manager_spark.operators.textstats import (
        with_winnow_fingerprints,
    )

    passage = " ".join(shared)  # >= 4*5-ish chars, > k+w-1 = 8
    rows = [
        (1, " ".join(words_a) + " " + passage + " " + " ".join(words_a)),
        (2, " ".join(words_b) + " " + passage + " " + " ".join(words_b)),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    fps = {
        r.doc_id: set(r.fps)
        for r in with_winnow_fingerprints(df, "text", "fps", k=5, window=4).collect()
    }
    assert fps[1] & fps[2]


@SETTINGS
@given(
    toks=st.lists(st.integers(min_value=1, max_value=400), min_size=1, max_size=40),
    budget=st.integers(min_value=50, max_value=600),
)
def test_pack_sequences_matches_sequential_property(spark, toks, budget):
    """Property form of the packing contract: for ANY doc sizes and
    budget, the distributed two-phase prefix equals the sequential
    greedy-contiguous reference."""
    from curw_flo2d_data_manager_spark.operators.packing import pack_sequences

    rows = list(enumerate(toks))
    df = spark.createDataFrame(rows, "doc_id int, n_tok int").repartition(5)
    got = {
        r.doc_id: (r.bin_id, r.bin_offset)
        for r in pack_sequences(df, "doc_id", "n_tok", budget=budget).collect()
    }
    start, ref = 0, {}
    for i, t in rows:
        ref[i] = (start // budget, start)
        start += t
    assert got == ref


# ---------------------------------------------------------------------
# connected components vs a union-find oracle
# ---------------------------------------------------------------------
edges_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),
        st.integers(min_value=0, max_value=30),
    ),
    min_size=1,
    max_size=40,
)


def _union_find_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {n for e in edges for n in e}
    # path-compress to final roots, then label = min of each set
    groups = {}
    for n in nodes:
        groups.setdefault(find(n), set()).add(n)
    return {n: min(members) for root, members in groups.items() for n in members}


@settings(
    max_examples=6, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=edges_strategy)
def test_connected_components_matches_union_find(spark, edges):
    from curw_flo2d_data_manager_spark.operators.components import (
        connected_components,
    )

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["id"]: r["component"] for r in connected_components(df).collect()
    }
    # drop self-loop-only nodes from the oracle the same way the
    # operator does: a (x, x) pair still registers the node
    assert got == _union_find_components(edges)


# ---------------------------------------------------------------------
# passage dedup vs a pure-Python first-occurrence oracle
# ---------------------------------------------------------------------
texts_strategy = st.lists(
    st.lists(
        st.sampled_from(["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]),
        min_size=0,
        max_size=20,
    ).map(" ".join),
    min_size=1,
    max_size=8,
)


def _passage_oracle(texts, w=4):
    seen = {}
    rows = []
    for doc_id, text in enumerate(texts):
        toks = text.split() if text else []
        for pos in range(1, (len(toks) + w - 1) // w + 1):
            chunk = " ".join(toks[(pos - 1) * w : pos * w])
            keep = chunk not in seen
            if keep:
                seen[chunk] = (doc_id, pos)
            rows.append((doc_id, pos, len(chunk.split()), keep))
    return sorted(rows)


@settings(
    max_examples=6, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=texts_strategy)
def test_passage_dedup_matches_python_oracle(spark, texts):
    from curw_flo2d_data_manager_spark.operators.dedup import passage_dedup

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = sorted(
        (r["doc_id"], r["pos"], r["n_words"], r["keep"])
        for r in passage_dedup(df, "doc_id", passage_words=4).collect()
    )
    assert got == _passage_oracle(texts)


# --------------------------------------------------- bigram LM oracle
def _bigram_oracle(texts):
    """Pure-Python add-one bigram model mirroring bigram_logprob."""
    import math
    from collections import Counter

    per_doc: dict[int, Counter] = {}
    for doc_id, text in enumerate(texts):
        toks = text.split()
        if len(toks) < 2:
            continue
        per_doc[doc_id] = Counter(zip(toks, toks[1:]))
    cb: Counter = Counter()
    for c in per_doc.values():
        cb.update(c)
    cw: Counter = Counter()
    for (w1, _), n in cb.items():
        cw[w1] += n
    vocab = len(cw)
    out = {}
    for doc_id, c in per_doc.items():
        n = sum(c.values())
        s = sum(
            tf * math.log((cb[bg] + 1.0) / (cw[bg[0]] + vocab))
            for bg, tf in c.items()
        )
        out[doc_id] = (n, round(s / n, 4))
    return out


bigram_texts_strategy = st.lists(
    st.lists(
        st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=8
    ).map(" ".join),
    min_size=1,
    max_size=8,
)


@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=bigram_texts_strategy)
def test_bigram_logprob_matches_python_oracle(spark, texts):
    from curw_flo2d_data_manager_spark.operators.caching import release_caches
    from curw_flo2d_data_manager_spark.operators.textstats import bigram_logprob

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    try:
        got = {
            r["doc_id"]: (r["n_bigrams"], r["avg_logprob"])
            for r in bigram_logprob(df, "doc_id", "text").collect()
        }
    finally:
        release_caches()
    assert got == _bigram_oracle(texts)


# --------------------------------------------- chunking oracle
def _chunk_oracle(texts, chunk_words, overlap):
    stride = chunk_words - overlap
    rows = []
    for doc_id, text in enumerate(texts):
        toks = text.split()
        if not toks:
            continue
        n_chunks = max(1, -(-(len(toks) - overlap) // stride))
        for k in range(n_chunks):
            cw = toks[k * stride: k * stride + chunk_words]
            rows.append((doc_id, k, len(cw), " ".join(cw)))
    return sorted(rows)


@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc"]), min_size=0, max_size=12)
        .map(" ".join),
        min_size=1, max_size=6,
    ),
    chunk_words=st.integers(min_value=2, max_value=5),
    overlap=st.integers(min_value=0, max_value=1),
)
def test_chunk_documents_matches_python_oracle(spark, texts, chunk_words, overlap):
    from curw_flo2d_data_manager_spark.operators.textstats import chunk_documents

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["chunk_idx"], r["n_words"], r["chunk_text"])
        for r in chunk_documents(
            df, "doc_id", chunk_words=chunk_words, overlap=overlap
        ).collect()
    )
    assert got == _chunk_oracle(texts, chunk_words, overlap)


# --------------------------------------------- split partitioning
@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    fracs=st.lists(
        st.floats(min_value=0.05, max_value=0.6, allow_nan=False),
        min_size=1, max_size=4,
    )
)
def test_split_assign_partitions_exactly(spark, fracs):
    """For ANY fraction list with sum <= 1: every key gets at most one
    split, fraction order never matters for a given cumulative
    boundary, and when the sum reaches 1 nobody is left NULL."""
    from curw_flo2d_data_manager_spark.operators.sampling import split_assign

    total = sum(fracs)
    if total > 1.0:
        fracs = [f / total for f in fracs]
        total = 1.0
    names = [f"s{i}" for i in range(len(fracs))]
    df = spark.createDataFrame([(i,) for i in range(300)], "k long")
    got = {r["k"]: r["split"] for r in
           split_assign(df, ["k"], dict(zip(names, fracs))).collect()}
    assert len(got) == 300
    assigned = [v for v in got.values() if v is not None]
    assert set(assigned) <= set(names)
    if total >= 1.0 - 1e-9:
        assert len(assigned) == 300  # fully partitioned


@SETTINGS
@given(
    corpus_keys=st.lists(st.integers(min_value=0, max_value=60),
                         min_size=1, max_size=40, unique=True),
    block_keys=st.lists(st.integers(min_value=0, max_value=60),
                        min_size=0, max_size=25, unique=True),
    m_bits=st.sampled_from([64, 128, 1024]),
    k=st.integers(min_value=1, max_value=4),
)
def test_bloom_blocklist_filter_equals_plain_anti_join(
    spark, corpus_keys, block_keys, m_bits, k
):
    """For ANY corpus/blocklist and ANY filter sizing — including
    saturated 64-bit filters where almost every probe is a false
    positive — bloom_blocklist_filter must return exactly the plain
    anti-join's rows."""
    from curw_flo2d_data_manager_spark.operators.dedup import (
        bloom_blocklist_filter,
    )

    corpus = spark.createDataFrame(
        [(i, f"key-{i}") for i in corpus_keys], "id long, fp string"
    )
    blocklist = spark.createDataFrame(
        [(f"key-{i}",) for i in block_keys] or [("never-matches",)],
        "fp string",
    )
    got = {r["id"] for r in bloom_blocklist_filter(
        corpus, blocklist, "fp", m_bits=m_bits, k=k).collect()}
    want = set(corpus_keys) - (set(block_keys) if block_keys else set())
    assert got == want


@SETTINGS
@given(
    lens=st.lists(st.integers(min_value=0, max_value=300),
                  min_size=1, max_size=40),
    batch_size=st.integers(min_value=1, max_value=7),
    n_shards=st.integers(min_value=1, max_value=4),
)
def test_length_buckets_match_python_oracle(spark, lens, batch_size, n_shards):
    """length_bucketed_batches == a pure-Python re-derivation: same
    bucket, same shard, same (batch_idx, batch_pos) under the md5
    order — for any lengths, batch size, and shard count."""
    import hashlib

    from curw_flo2d_data_manager_spark.operators.packing import (
        length_bucketed_batches,
    )

    edges = [10, 50, 200]
    rows = [(i, ln) for i, ln in enumerate(lens)]
    df = spark.createDataFrame(rows, "id long, len long")
    got = {r["id"]: (r["bucket"], r["shard"], r["batch_idx"], r["batch_pos"])
           for r in length_bucketed_batches(
               df, "id", "len", batch_size=batch_size,
               boundaries=edges, n_shards=n_shards).collect()}

    def oracle():
        out = {}
        groups = {}
        for i, ln in rows:
            md5 = hashlib.md5(str(i).encode()).hexdigest()
            bucket = sum(1 for b in edges if b <= ln)
            shard = int(md5[:8], 16) % n_shards
            groups.setdefault((bucket, shard), []).append((md5, i, ln))
        for (bucket, shard), members in groups.items():
            for pos, (_, i, ln) in enumerate(sorted(members)):
                out[i] = (bucket, shard, pos // batch_size, pos % batch_size)
        return out

    assert got == oracle()


@SETTINGS
@given(
    vecs=st.lists(
        st.lists(st.floats(min_value=-1, max_value=1, allow_nan=False,
                           width=32), min_size=4, max_size=4),
        min_size=1, max_size=15,
    )
)
def test_pq_assign_matches_numpy_argmin(spark, vecs):
    """pq_assign's packed codes == numpy per-subspace squared-L2
    argmin (first-min tie break) for arbitrary float vectors."""
    import numpy as np

    from curw_flo2d_data_manager_spark.operators.similarity import pq_assign

    cbs = [
        [[0.5, 0.5], [-0.5, 0.5], [0.0, -0.7]],
        [[0.9, 0.0], [0.0, 0.9], [-0.9, -0.9]],
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = {r["vec_id"]: r["pq_code"] for r in pq_assign(df, cbs).collect()}
    arr = np.array(vecs, dtype=np.float32).astype(np.float64)
    for i, v in enumerate(arr):
        code = 0
        for s in range(2):
            sub = v[2 * s: 2 * s + 2]
            d = [((sub - np.array(c)) ** 2).sum() for c in cbs[s]]
            code += int(np.argmin(d)) * (3 ** s)
        assert got[i] == code, (i, vecs[i])


@SETTINGS
@given(
    texts=st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]),
                 min_size=0, max_size=14),
        min_size=1, max_size=8,
    ),
    k=st.integers(min_value=2, max_value=4),
)
def test_repeated_spans_match_python_oracle(spark, texts, k):
    """repeated_spans == a pure-Python re-derivation (gram counting,
    marking, island merge) over adversarial tiny-vocabulary corpora
    where almost every gram repeats."""
    from curw_flo2d_data_manager_spark.operators.caching import release_caches
    from curw_flo2d_data_manager_spark.operators.dedup import repeated_spans

    rows = [(i, " ".join(ws)) for i, ws in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    try:
        got = {(r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
               for r in repeated_spans(df, "doc_id", k=k).collect()}
    finally:
        release_caches()

    from collections import Counter

    grams = Counter()
    per_doc = {}
    for i, ws in enumerate(texts):
        per_doc[i] = [tuple(ws[p:p + k]) for p in range(len(ws) - k + 1)]
        grams.update(per_doc[i])
    want = set()
    for i, gs in per_doc.items():
        marked = [p for p, g in enumerate(gs) if grams[g] >= 2]
        run = []
        for p in marked:
            if run and p == run[-1] + 1:
                run.append(p)
            else:
                if run:
                    want.add((i, run[0], run[-1] + k - 1,
                              run[-1] + k - 1 - run[0] + 1))
                run = [p]
        if run:
            want.add((i, run[0], run[-1] + k - 1,
                      run[-1] + k - 1 - run[0] + 1))
    assert got == want


interval_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=20),   # start bucket-ish
        st.integers(min_value=-5, max_value=20),  # length (negative → inverted)
    ),
    min_size=1,
    max_size=8,
)


@SETTINGS
@given(left=interval_strategy, right=interval_strategy)
def test_interval_overlap_join_matches_brute_force(spark, left, right):
    """Bucketed interval×interval join == the plain range predicate
    ``L.start <= R.end AND R.start <= L.end`` on ANY input — including
    inverted (end < start) intervals, zero-length points, and
    multi-bucket spans — with every surviving pair appearing exactly
    once (the first-overlapping-bucket dedup)."""
    from curw_flo2d_data_manager_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    def rows(iv):
        return [
            (i, float(s * 700), float(s * 700 + ln * 700))
            for i, (s, ln) in enumerate(iv)
        ]

    lrows, rrows = rows(left), rows(right)
    ldf = spark.createDataFrame(lrows, "lid int, start double, end double")
    rdf = spark.createDataFrame(rrows, "rid int, start double, end double")
    got = [
        (r["lid_a"], r["rid_b"])
        for r in interval_overlap_join(ldf, rdf, bucket_seconds=1000).collect()
    ]
    want = {
        (li, ri)
        for li, ls, le in lrows
        for ri, rs, re_ in rrows
        if ls <= re_ and rs <= le
    }
    assert len(got) == len(set(got)), f"duplicate pairs: {sorted(got)}"
    assert set(got) == want


score_strategy = st.lists(
    st.tuples(
        st.sampled_from(["a", "b"]),
        st.one_of(st.none(), st.integers(min_value=-5, max_value=5)),
    ),
    min_size=1,
    max_size=12,
)


@SETTINGS
@given(rows=score_strategy)
def test_quantile_normalize_matches_pandas_rank(spark, rows):
    """quantile_normalize == pandas groupby rank(method='min'),
    normalized to [0, 1] over the NON-NULL scores only — for any mix
    of ties, NULLs, and single-row domains."""
    from curw_flo2d_data_manager_spark.operators.sampling import (
        quantile_normalize,
    )

    data = [(dom, i, float(s) if s is not None else None)
            for i, (dom, s) in enumerate(rows)]
    df = spark.createDataFrame(data, "source string, rid int, s double")
    got = {
        r["rid"]: r["score_norm"]
        for r in quantile_normalize(df, ["source"], "s").collect()
    }
    pdf = pd.DataFrame(data, columns=["source", "rid", "s"])
    ranks = pdf.groupby("source")["s"].rank(method="min")
    n_valid = pdf.groupby("source")["s"].transform("count")
    for _, row in pdf.iterrows():
        rid = row["rid"]
        if pd.isna(row["s"]):
            assert got[rid] is None, rid
            continue
        n = n_valid[row.name]
        want = 0.0 if n == 1 else (ranks[row.name] - 1) / (n - 1)
        assert got[rid] == pytest.approx(want), (rid, got[rid], want)


cusum_series_strategy = st.lists(
    st.floats(min_value=-20, max_value=20, allow_nan=False, width=16),
    min_size=1,
    max_size=40,
)


@SETTINGS
@given(
    values=cusum_series_strategy,
    target=st.sampled_from([0.0, 1.5, -2.0]),
    slack=st.sampled_from([0.0, 0.5, 2.0]),
)
def test_cusum_prefix_scan_identity_equals_serial_recurrence(
    spark, values, target, slack
):
    """The windowed prefix-scan form must equal the textbook serial
    recurrence for ANY series / target / slack (the identity carries
    the implicit empty-prefix state via the min(0, ·) bound)."""
    from curw_flo2d_data_manager_spark.operators.extremes import cusum_drift

    base = datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            ("k", i, base + timedelta(minutes=i), float(v))
            for i, v in enumerate(values)
        ],
        "key string, event_id long, ts timestamp, value double",
    )
    got = (
        cusum_drift(
            df, key_cols=["key"], target=target, slack=slack,
            tiebreak_cols=["event_id"],
        )
        .orderBy("event_id")
        .collect()
    )
    sp = sn = 0.0
    for r, x in zip(got, values):
        sp = max(0.0, sp + (x - target - slack))
        sn = max(0.0, sn - (x - target + slack))
        assert r["cusum_pos"] == pytest.approx(sp, abs=1e-9)
        assert r["cusum_neg"] == pytest.approx(sn, abs=1e-9)


url_strategy = st.builds(
    lambda scheme, www, host, path, slash, params: (
        f"{scheme}://{www}{host}/{path}{'/' if slash else ''}"
        + ("?" + "&".join(params) if params else "")
    ),
    st.sampled_from(["http", "https", "HTTP"]),
    st.sampled_from(["", "www."]),
    st.sampled_from(["site.org", "Mirror.example.net"]),
    st.sampled_from(["a", "p/1", "x/y/z"]),
    st.booleans(),
    st.lists(
        st.sampled_from(
            ["id=2", "a=1", "b=", "utm_source=x", "fbclid=zz", "ref=home"]
        ),
        max_size=4,
        unique=True,
    ),
)


@SETTINGS
@given(url=url_strategy)
def test_canonicalize_url_idempotent_and_tracking_free(spark, url):
    from curw_flo2d_data_manager_spark.operators.textstats import (
        canonicalize_url,
    )

    def run(u):
        return (
            spark.createDataFrame([(u,)], "s string")
            .select(canonicalize_url(F.col("s")).alias("c"))
            .collect()[0]["c"]
        )

    c = run(url)
    # canonical form is scheme-free, tracking-free, and a fixed point
    # (idempotence needs the scheme prefix back on — the canonicalizer
    # accepts scheme-less input unchanged apart from param re-sorting)
    assert "utm_" not in c and "fbclid" not in c and "ref=" not in c
    assert not c.startswith("http")
    assert run("https://" + c) == c


# --- late-round-8 operator laws ---------------------------------------

scores_strategy = st.lists(
    st.integers(min_value=-500, max_value=500), min_size=5, max_size=40
)


@SETTINGS
@given(
    vals=scores_strategy,
    a=st.sampled_from([0.5, 2.0, 4.0]),
    b=st.integers(min_value=-100, max_value=100),
)
def test_robust_scale_affine_equivariance(spark, vals, a, b):
    """robust_scale(a·x + b) == robust_scale(x) for a > 0: median and
    MAD are affine-equivariant, so the calibrated score must be
    invariant under positive affine transforms of the raw signal."""
    from curw_flo2d_data_manager_spark.operators.sampling import robust_scale

    rows = [("g", float(v)) for v in vals]
    df = spark.createDataFrame(rows, "g string, score double")
    df2 = df.withColumn("score", F.col("score") * a + b)
    base = [
        r.score_robust
        for r in robust_scale(df, ["g"], "score").orderBy("score").collect()
    ]
    moved = [
        r.score_robust
        for r in robust_scale(df2, ["g"], "score").orderBy("score").collect()
    ]
    assert len(base) == len(moved)
    for x, y in zip(base, moved):
        if x is None:
            assert y is None  # MAD == 0 in both or neither
        else:
            assert abs(x - y) < 1e-9


@SETTINGS
@given(mult=st.sampled_from([2, 5, 10]))
def test_zipf_slope_invariant_under_count_scaling(spark, mult):
    """Multiplying every term count by a constant shifts the fitted
    intercept, never the slope: zipf_slope(c·n) == zipf_slope(n)
    (ln(c·n) = ln c + ln n and regr_slope ignores the shift)."""
    from curw_flo2d_data_manager_spark.operators.textstats import zipf_slope

    base_counts = [13, 8, 5, 3, 2]
    docs = [
        ("A", " ".join([f"t{i}"] * c))
        for i, c in enumerate(base_counts)
    ]
    scaled = [
        ("A", " ".join([f"t{i}"] * (c * mult)))
        for i, c in enumerate(base_counts)
    ]
    one = zipf_slope(
        spark.createDataFrame(docs, "source string, text string"), ["source"]
    ).collect()[0]
    two = zipf_slope(
        spark.createDataFrame(scaled, "source string, text string"),
        ["source"],
    ).collect()[0]
    assert one.vocab == two.vocab == 5
    assert abs(one.zipf_slope - two.zipf_slope) < 1e-6


@SETTINGS
@given(
    perm_seed=st.integers(min_value=0, max_value=100),
    n=st.sampled_from([50, 200]),
)
def test_global_row_number_input_order_invariant(spark, perm_seed, n):
    """The numbering is a pure function of the ORDER KEY: shuffling
    input rows (and changing the partition count) must not move any
    row's number."""
    import random as _random

    from curw_flo2d_data_manager_spark.operators.rownum import (
        global_row_number,
    )

    rows = [((i * 31) % 97, i) for i in range(n)]
    shuffled = rows[:]
    _random.Random(perm_seed).shuffle(shuffled)
    a = {
        (r.k, r.uid): r.row_num
        for r in global_row_number(
            spark.createDataFrame(rows, "k long, uid long").repartition(4),
            ["k", "uid"],
            num_partitions=4,
        ).collect()
    }
    b = {
        (r.k, r.uid): r.row_num
        for r in global_row_number(
            spark.createDataFrame(shuffled, "k long, uid long").repartition(7),
            ["k", "uid"],
            num_partitions=3,
        ).collect()
    }
    assert a == b


# ---------------------------------------------------- segmented EWMA
_ewma_series = st.lists(
    st.one_of(
        st.none(),
        st.floats(min_value=-50, max_value=50, allow_nan=False, width=32),
    ),
    min_size=1,
    max_size=40,
)


@settings(
    max_examples=10, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=_ewma_series,
    alpha=st.sampled_from([0.1, 0.3, 0.9, 1.0]),
    segment_rows=st.integers(min_value=2, max_value=9),
)
def test_ewma_segmented_property_vs_recurrence(spark, vals, alpha, segment_rows):
    """Property (round-8 verdict item 6): for ANY series (arbitrary
    NULL pattern), alpha, and segment size, the segmented two-pass
    fold agrees with the sequential recurrence e0=x0,
    e=a·x+(1−a)·e (NULLs carry state and emit NULL) to float
    tolerance, with no rows dropped."""
    from curw_flo2d_data_manager_spark.operators.smoothing import ewma

    df = spark.createDataFrame(
        [("s", i, v) for i, v in enumerate(vals)],
        "k string, t long, value double",
    )
    got = {
        r.t: r.value_ewma
        for r in ewma(
            df, ["k"], ["t"], alpha=alpha, segment_rows=segment_rows
        ).collect()
    }
    assert len(got) == len(vals)
    e = None
    for i, x in enumerate(vals):
        if x is None:
            assert got[i] is None, i
            continue
        e = x if e is None else alpha * x + (1.0 - alpha) * e
        assert got[i] == pytest.approx(e, rel=1e-9, abs=1e-12), i


@SETTINGS
@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=10**12),
            st.integers(min_value=1, max_value=10**6),
        ).map(lambda t: (max(t[0], t[1]), min(t[0], t[1]))),
        min_size=1,
        max_size=40,
        unique=True,
    )
)
def test_ln_ratio_det_bit_identical_property(spark, pairs):
    """The deterministic log's cross-engine contract as a property:
    for ANY integer num >= den >= 1, the Spark column and the DuckDB
    SQL twin produce the same 64 bits, and both sit within 2e-7 of
    libm ln."""
    import math
    import struct

    import duckdb

    from curw_flo2d_data_manager_spark.functions.exactmath import (
        ln_ratio_det,
        ln_ratio_det_sql,
    )

    df = spark.createDataFrame(pairs, "num long, den long")
    got = {
        (r.num, r.den): r.lnr
        for r in df.withColumn(
            "lnr", ln_ratio_det(F.col("num"), F.col("den"))
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE p(num BIGINT, den BIGINT)")
    con.executemany("INSERT INTO p VALUES (?, ?)", pairs)
    oracle = {
        (a, b): v
        for a, b, v in con.sql(
            f"SELECT num, den, {ln_ratio_det_sql('num', 'den')} FROM p"
        ).fetchall()
    }
    for k, v in got.items():
        assert struct.pack("<d", v) == struct.pack("<d", oracle[k])
        assert abs(v - math.log(k[0] / k[1])) < 2e-7


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-20, max_value=20),  # value
            st.integers(min_value=1, max_value=9),     # weight
        ),
        min_size=1,
        max_size=30,
    )
)
def test_weighted_median_matches_brute_force(spark, rows):
    """Lower weighted median property: smallest v with
    2·cum(v) >= total, verified against a pure-Python scan."""
    from curw_flo2d_data_manager_spark.operators.exactstats import (
        weighted_median,
    )

    df = spark.createDataFrame(
        [("g", float(v), w) for v, w in rows],
        "g string, v double, w long",
    )
    got = weighted_median(df, ["g"], "v", F.col("w")).collect()[0]
    agg = {}
    for v, w in rows:
        agg[v] = agg.get(v, 0) + w
    tot = sum(agg.values())
    cum = 0
    for v in sorted(agg):
        cum += agg[v]
        if 2 * cum >= tot:
            expect = v
            break
    assert got.weighted_median == float(expect)
    assert got.total_weight_fp == tot


@SETTINGS
@given(
    vals=st.lists(
        st.integers(min_value=-50, max_value=50), min_size=3, max_size=40
    )
)
def test_moments_fixed_matches_python_same_formula(spark, vals):
    """Exact-equality property: the operator's doubles must EQUAL (==)
    a pure-Python evaluation of the same raw-sum formula — same
    integer sums, same IEEE op sequence, no tolerance."""
    from curw_flo2d_data_manager_spark.operators.exactstats import (
        moments_fixed,
    )

    df = spark.createDataFrame(
        [("g", v) for v in vals], "g string, x long"
    )
    r = moments_fixed(df, ["g"], F.col("x")).collect()[0]
    n = len(vals)
    s1 = sum(vals)
    s2 = sum(v * v for v in vals)
    s3 = sum(v * v * v for v in vals)
    s4 = sum(v * v * v * v for v in vals)
    nd = float(n)
    mean = s1 / nd
    m2 = s2 / nd - mean * mean
    m3 = s3 / nd - 3.0 * mean * (s2 / nd) + 2.0 * mean * mean * mean
    m4 = (
        s4 / nd
        - 4.0 * mean * (s3 / nd)
        + 6.0 * mean * mean * (s2 / nd)
        - 3.0 * mean * mean * mean * mean
    )
    assert r.n == n and r.mean == mean and r.m2 == m2
    if m2 > 0:
        # sqrt, not **0.5: C pow() is not correctly rounded, so it can
        # differ from the operator's IEEE sqrt by one ulp
        sd = math.sqrt(m2)
        assert r.skewness == m3 / (sd * sd * sd)
        assert r.kurtosis == m4 / (m2 * m2) - 3.0
    else:
        assert r.skewness is None and r.kurtosis is None
