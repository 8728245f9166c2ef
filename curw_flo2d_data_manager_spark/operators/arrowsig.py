"""Arrow carve-out for the two expression-floor corpus signals
(guide §4.2): the ``num_hashes``-seed MinHash fold and the
language-marker counting.

Round-14 measured both signals at the *expression-form* floor
(rejected A/Bs 1–2 in OPTIMIZATION_r14.md): lang marker counting
6–13 s/1M docs, the 32-seed minhash fold 6–9 s/1M — together the
majority of the composed-projection cost.  Guide §4.2's answer is to
hand whole Arrow batches to vectorized native code; this module does
that with NumPy over the *word-hash* representation, so the only
payload crossing the Python boundary is ~8 bytes per word each way —
never the text.

Carve-out discipline (the BPE-encoder precedent, ``operators/bpe.py``):

* Results are **bit-identical** to the pure-expression forms — the
  xxhash64 port (``functions/xxh64_np.py``) is pinned against the JVM
  bit for bit, and ``tests/test_arrowsig.py`` pins every output column
  against the expression twin on organic + adversarial corpora.
* Gated **headline** queries keep the pure-expression plans (zero
  Python nodes); the Arrow engine is opt-in per call site (the
  pipeline smokes call ``with_corpus_signals_arrow`` directly).
* Shingle output is a SET: ``_sh`` comes back sorted-distinct (the
  expression twin is first-occurrence-distinct).  Every consumer
  (minhash, array_intersect/union Jaccard) is order-insensitive;
  callers that expose shingle *order* must keep the expression form.

Language counting matches by word hash, not by word: a corpus word
counts for language L iff ``xxhash64(word)`` equals the hash of one of
L's markers.  Equal words hash equal, so counts are identical up to a
2^-64 xxhash64 string collision — the same accepted-risk class as the
round-14 hashed shingles (operators/dedup.py).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa

from curw_flo2d_data_manager_spark.functions.xxh64_np import (
    hash_long,
    minhash_over_segments,
    spark_xxhash64_str,
)
from curw_flo2d_data_manager_spark.operators.textstats import LANG_MARKERS

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

LANGS: tuple[str, ...] = tuple(LANG_MARKERS)


def _marker_tables() -> tuple[np.ndarray, np.ndarray]:
    """(sorted distinct marker hashes, per-marker lang-count rows).

    Row j of the matrix is the per-language count contribution of the
    word whose hash is ``hashes[j]`` (a word may be a marker in
    several languages — es/pt "de", es/fr/pt "que" — so rows may have
    several 1s)."""
    by_hash: dict[int, np.ndarray] = {}
    for li, (_, markers) in enumerate(LANG_MARKERS.items()):
        for m in markers:
            h = spark_xxhash64_str(m)
            row = by_hash.setdefault(h, np.zeros(len(LANG_MARKERS), np.int64))
            row[li] += 1
    hashes = np.array(sorted(by_hash), dtype=np.int64)
    matrix = np.stack([by_hash[int(h)] for h in hashes])
    return hashes, matrix


_MARKER_HASHES, _MARKER_MATRIX = _marker_tables()


def _list_to_flat(col: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(values int64, per-row lengths, null mask) for a list<int64>
    Arrow array — via compute kernels so slicing/offsets are always
    honored. A NULL element has no int64 value (``to_numpy`` would
    turn it into a NaN and the cast into a garbage hash), so it
    raises."""
    import pyarrow.compute as pc

    nulls = pc.is_null(col).to_numpy(zero_copy_only=False)
    lens = (
        pc.fill_null(pc.list_value_length(col), 0)
        .to_numpy(zero_copy_only=False)
        .astype(np.int64)
    )
    values = pc.list_flatten(col)
    if values.null_count:
        raise ValueError(f"{values.null_count} NULL element(s) in a word-hash array")
    flat = values.to_numpy(zero_copy_only=False).astype(np.int64)
    return flat, lens, nulls


def _shingle_and_sig(
    flat_u: np.ndarray,
    lens: np.ndarray,
    num_hashes: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized twin of ``dedup.shingle_hashes_from_word_hashes`` +
    ``dedup.minhash_signature`` over a flattened word-hash batch, for
    3-word shingles (the only production value, checked on the driver
    by ``with_corpus_signals_arrow``).

    Returns (distinct-sorted shingle values, per-row shingle counts,
    (n_rows, num_hashes) signature matrix).  The chain below hard-codes
    the 3-step hash like the expression twin's ``xxhash64(hw[i],
    hw[i+1], hw[i+2])``."""
    n = len(lens)
    total = int(lens.sum())
    starts = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=starts[1:])
    row_of = np.repeat(np.arange(n, dtype=np.int64), lens)
    row_end = starts[row_of + 1]
    pos = np.arange(total, dtype=np.int64)

    # chained xxhash64 over up to 3 word hashes, NULL-skipping like
    # the expression (try_element_at past the end yields NULL, which
    # Spark's hash skips): c1 = 1-word gram, c2 = 2-word, c3 = 3-word
    c1 = hash_long(flat_u, 42)
    c2 = c1.copy()
    has2 = pos + 1 < row_end
    if total:
        nxt = np.empty_like(flat_u)
        nxt[:-1] = flat_u[1:]
        nxt[-1] = 0
        c2[has2] = hash_long(nxt[has2], c1[has2])
    c3 = c2.copy()
    has3 = pos + 2 < row_end
    if total:
        nxt2 = np.empty_like(flat_u)
        nxt2[:-2] = flat_u[2:]
        nxt2[-2:] = 0
        c3[has3] = hash_long(nxt2[has3], c2[has3])

    # gram positions: sequence(1, greatest(len-2, 1)) per row, plus
    # the all-NULL gram (= seed 42) for empty rows
    g_per_row = np.maximum(lens - 2, 1)
    sel = (pos - starts[row_of]) < np.maximum(lens[row_of] - 2, 1)
    g_starts = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(g_per_row, out=g_starts[1:])
    grams = np.empty(int(g_per_row.sum()), dtype=np.uint64)
    slot_nonempty = np.repeat(lens > 0, g_per_row)
    grams[slot_nonempty] = c3[sel]
    grams[~slot_nonempty] = np.uint64(42)

    # sorted-distinct per row — the SET the expression's
    # array_distinct produces, in sorted order.  Fast path: scatter
    # into an (n, max_grams) sentinel-padded matrix and row-sort
    # (~10× faster than a global lexsort at typical raggedness);
    # falls back to the lexsort when one giant row would blow the
    # matrix up.  Exact even if a real gram equals the sentinel: the
    # first g_i sorted entries of a row are always its real multiset.
    g_row = np.repeat(np.arange(n, dtype=np.int64), g_per_row)
    total_g = len(grams)
    max_g = int(g_per_row.max()) if n else 0
    if n and max_g * n <= 4 * total_g:
        mat = np.full((n, max_g), np.uint64(0xFFFFFFFFFFFFFFFF))
        pos_in_row = np.arange(total_g, dtype=np.int64) - g_starts[g_row]
        mat[g_row, pos_in_row] = grams
        mat.sort(axis=1)
        keep = np.empty((n, max_g), dtype=bool)
        keep[:, 0] = True
        keep[:, 1:] = mat[:, 1:] != mat[:, :-1]
        keep &= np.arange(max_g, dtype=np.int64)[None, :] < g_per_row[:, None]
        d_vals = mat[keep]
        d_lens = keep.sum(axis=1).astype(np.int64)
    else:
        order = np.lexsort((grams, g_row))
        gs = grams[order]
        rs = g_row[order]
        keep = np.empty(len(gs), dtype=bool)
        if len(gs):
            keep[0] = True
            keep[1:] = (gs[1:] != gs[:-1]) | (rs[1:] != rs[:-1])
        d_vals = gs[keep]
        d_lens = np.bincount(rs[keep], minlength=n).astype(np.int64)

    # minhash: sig[:, i] = min over shingles of
    # hash_int(i, hash_long(shingle, 42)) — in-place seed loop
    d_starts = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(d_lens, out=d_starts[1:])
    sig = minhash_over_segments(
        hash_long(d_vals, 42), d_starts[:-1], num_hashes
    )
    return d_vals.view(np.int64), d_lens, sig


def _lang_counts(
    flat: np.ndarray, lens: np.ndarray
) -> np.ndarray:
    """(n_rows, n_langs) marker multiplicities from flattened word
    hashes — the vectorized twin of ``textstats.lang_scores``."""
    n = len(lens)
    counts = np.zeros((n, len(LANGS)), dtype=np.int64)
    if len(flat):
        idx = np.searchsorted(_MARKER_HASHES, flat)
        idx_c = np.minimum(idx, len(_MARKER_HASHES) - 1)
        hit = _MARKER_HASHES[idx_c] == flat
        if hit.any():
            row_of = np.repeat(np.arange(n, dtype=np.int64), lens)
            np.add.at(counts, row_of[hit], _MARKER_MATRIX[idx_c[hit]])
    return counts


def _lang_argmax(counts: np.ndarray, default: str) -> np.ndarray:
    """argmax language with first-max tie-break (LANG_MARKERS order),
    zero hits → ``default`` — ``textstats.lang_id`` semantics."""
    best = np.argmax(counts, axis=1)  # first occurrence of the max
    score = counts[np.arange(len(counts)), best] if len(counts) else best
    langs = np.array(LANGS, dtype=object)
    out = langs[best]
    out[score <= 0] = default
    return out


def with_corpus_signals_arrow(
    df: DataFrame,
    hw_col: str = "_hw",
    sh_col: str | None = "_sh",
    sig_col: str | None = "_sig",
    lang_col: str | None = None,
    num_hashes: int = 32,
    shingle_n: int = 3,
    lang_default: str = "unknown",
    drop_hw: bool = True,
) -> DataFrame:
    """One ``mapInArrow`` stage computing any of: hashed-shingle sets
    (``sh_col``), MinHash signatures (``sig_col``), language id
    (``lang_col``) — all from an already-materialized per-word-hash
    array column ``hw_col`` (``transform(words(text), xxhash64)``).

    Bit-identical to the expression twins (see module docstring).
    A NULL ``hw_col`` row behaves like an empty array, as in the
    expression twin: one seed-42 gram and its signature, with
    ``lang_default`` for the language.

    ``shingle_n`` must be 3, the only width the vectorized twin
    implements; anything else raises ``ValueError`` here, on the
    driver.

    Only the columns the caller selected ride the boundary (guide
    §4.1) — project before calling.  ``drop_hw`` drops the word-hash
    array from the output (it is usually only needed as the carrier).
    """
    if shingle_n != 3:
        raise ValueError(f"shingle_n={shingle_n!r}: the Arrow twin implements only shingle_n=3")
    in_schema = df.schema
    hw_idx = in_schema.names.index(hw_col)
    out_fields = [f for f in in_schema.fields if not (drop_hw and f.name == hw_col)]
    if sh_col:
        out_fields.append(StructField(sh_col, ArrayType(LongType()), True))
    if sig_col:
        out_fields.append(StructField(sig_col, ArrayType(LongType()), True))
    if lang_col:
        out_fields.append(StructField(lang_col, StringType(), False))
    out_schema = StructType(out_fields)
    want_sh, want_sig, want_lang = bool(sh_col), bool(sig_col), bool(lang_col)
    keep_idx = [
        i for i, f in enumerate(in_schema.fields)
        if not (drop_hw and f.name == hw_col)
    ]

    out_names = [f.name for f in out_fields]

    def _signals(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        with np.errstate(over="ignore"):
            for batch in batches:
                col = batch.column(hw_idx)
                flat, lens, nulls = _list_to_flat(col)
                n = batch.num_rows
                arrays = [batch.column(i) for i in keep_idx]
                if want_sh or want_sig:
                    # NULL word arrays behave exactly like empty ones
                    # in the expression twin (size(NULL) = -1 →
                    # greatest(…, 1) → one all-NULL gram = seed 42),
                    # so no null-row handling is needed here.
                    d_vals, d_lens, sig = _shingle_and_sig(
                        flat.view(np.uint64), lens, num_hashes
                    )
                    if want_sh:
                        off = np.zeros(n + 1, dtype=np.int64)
                        np.cumsum(d_lens, out=off[1:])
                        arrays.append(
                            pa.ListArray.from_arrays(
                                pa.array(off, pa.int32()),
                                pa.array(d_vals, pa.int64()),
                            )
                        )
                    if want_sig:
                        arrays.append(
                            pa.ListArray.from_arrays(
                                pa.array(
                                    np.arange(n + 1, dtype=np.int64)
                                    * num_hashes,
                                    pa.int32(),
                                ),
                                pa.array(sig.ravel(), pa.int64()),
                            )
                        )
                if want_lang:
                    counts = _lang_counts(flat, lens)
                    lang = _lang_argmax(counts, lang_default)
                    lang[nulls] = lang_default
                    arrays.append(pa.array(lang, pa.string()))
                yield pa.RecordBatch.from_arrays(arrays, names=out_names)

    return df.mapInArrow(_signals, out_schema)
