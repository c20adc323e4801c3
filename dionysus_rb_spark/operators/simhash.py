"""SimHash near-duplicate fingerprinting.

32-bit SimHash over token h32 hashes: for each bit position, sum +1/-1
votes across a doc's distinct tokens; the sign vector is the
fingerprint. Near-duplicates = fingerprints within a Hamming radius.

At 100 TB the candidate join never compares all pairs: fingerprints are
banded (``bands`` contiguous bit blocks) and only docs sharing a band
value meet in the shuffle. With ``bands > max_hamming`` the pigeonhole
principle makes candidate generation COMPLETE within the radius — at
most ``max_hamming`` differing bits cannot touch every band, so every
true near-dup pair shares at least one identical band (the same
guarantee structure as MinHash-LSH banding; a single-block scheme has
no such guarantee and silently misses pairs whose diffs land in the
block). The Hamming check is a cheap xor+bit_count on the bucket-local
pairs.

Fully deterministic (h32), so the DuckDB oracle reproduces it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_prefix_sql, tokenize, tokenize_sql

BITS = 32
# Corpus-scale fingerprint width: 60 bits = 15 md5 hex digits, the
# widest md5 prefix that stays positive in a signed 64-bit int for both
# engines. At 32 bits a band is 8 bits (256 values), so every band
# bucket is corpus_size/256 — at web scale all of them blow past any
# sane max_bucket and get dropped, gutting recall. 60-bit fingerprints
# band into 4 x 15 bits (32k values each), the regime where banding
# keeps working. Certified end-to-end as dd_simhash_wide (round 6);
# the saturation study is tools/validation/simhash_width.py @ 6813648.
WIDE_BITS = 60


def _validate_bits(bits: int, bands: int | None = None) -> None:
    """Reject widths the portable fold can't represent and band splits
    that void the pigeonhole guarantee (ADVICE r6): the token hash is
    ceil(bits/4) md5 hex digits folded to int64, so bits > 60 overflows
    the signed fold (conv would yield values >= 2^63 that cast to null
    on the Spark side while only the oracle raised); bits % bands != 0
    would leave the top ``bits % bands`` fingerprint bits outside every
    band, so a pair differing only there could share zero bands yet sit
    within the Hamming radius — silently incomplete candidates."""
    if not 1 <= bits <= 60:
        raise ValueError(f"bits ({bits}) must be in 1..60 (int64 md5 fold)")
    if bands is not None and bits % bands != 0:
        raise ValueError(
            f"bits ({bits}) must be divisible by bands ({bands}) — "
            "otherwise the top bits are unbanded and pigeonhole "
            "completeness is void"
        )


def _token_hash(col, bits: int):
    """First ceil(bits/4) md5 hex digits folded to a long — the SAME
    fold at every width (ADVICE r6: the old bits<=32 h32 special case
    voted on the LOW bits of an 8-digit fold while the oracle folded
    only ceil(bits/4) HIGH-order digits, breaking cross-engine parity
    for 1 <= bits <= 31; at bits=32 the two are the identical
    expression, so the shipped 32-bit plan is unchanged)."""
    ndigits = (bits + 3) // 4
    return F.conv(F.substring(F.md5(col), 1, ndigits), 16, 10).cast("long")


def simhash(
    df: DataFrame, text_col: str, id_col: str, bits: int = BITS
) -> DataFrame:
    """ZERO-token docs (empty, whitespace-only, non-Latin under the
    ASCII tokenizer) get NO fingerprint row: with no votes every bit's
    sum is 0, so they would all fingerprint to 0 and band-collide into
    one hamming-0 "near-dup" clique — at corpus scale that clique is
    every CJK/emoji document, and dedup would drop all but one. The
    DuckDB mirror crashes outright on the empty vote fold
    (list_reduce on an empty list), so the exclusion is also what makes
    the operator oracle-checkable (round-7 adversarial content fuzz)."""
    _validate_bits(bits)
    # F.shiftleft's Python wrapper needs an int numBits; inside a lambda the
    # bit index is a Column, so call the SQL builtin directly.
    def shl(value, i):
        return F.call_function("shiftleft", value, i)

    toks = F.array_distinct(tokenize(F.col(text_col)))
    hashes = F.transform(toks, lambda t: _token_hash(t, bits))
    # vote for bit i: +1 if set, -1 if not; fingerprint bit = vote > 0.
    # ONE pass over the token hashes building a bits-wide vote array
    # (zip_with per hash), then one fold packing signs into the
    # fingerprint. The old shape — an outer aggregate over bit indices
    # whose lambda ran an inner aggregate over the hashes — invoked a
    # full interpreted HOF per bit per row (bits x n_tokens nested
    # iterations with per-invocation setup); measured 10.2x slower on
    # the 60-bit fingerprint at sf0.1 with bit-identical output
    # (optimization r13, guide §1.2 per-task work).
    votes = F.aggregate(
        F.col("__hs"),
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.sequence(F.lit(0), F.lit(bits - 1)),
            # the 1 MUST be a long: shiftleft on an int wraps the
            # shift count mod 32 (Java semantics), so at bits > 32
            # the high-bit votes would silently re-test low bits
            lambda a, i: a
            + F.when(
                h.bitwiseAND(shl(F.lit(1).cast("long"), i)) > 0, 1
            ).otherwise(-1),
        ),
    )
    fp = F.aggregate(
        F.zip_with(
            votes,
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda v, i: F.when(v > 0, shl(F.lit(1).cast("long"), i)).otherwise(
                F.lit(0).cast("long")
            ),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return (
        # raw-text ASCII-alnum gate <=> ">= 1 token" — a pushdown-able
        # scan predicate (filtering on the tokenized column would make
        # the pushed predicate re-tokenize every row; see
        # minhash.doc_shingles)
        df.filter(F.lower(F.col(text_col)).rlike("[a-z0-9]"))
        .select(F.col(id_col).alias("doc_id"), hashes.alias("__hs"))
        .select("doc_id", fp.alias("simhash"))
    )


def simhash_pairs(
    fps: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket: int | None = 1000,
    bits: int = BITS,
) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs within ``max_hamming``, found via
    banded buckets — complete by pigeonhole when ``bands > max_hamming``.

    One shuffle total: groupBy(band value) collects each bucket's
    (doc_id, simhash) structs and ordered pairs expand bucket-locally —
    no self-join, so the fingerprint aggregate upstream is computed
    exactly once. ``max_bucket`` caps degenerate buckets the same way
    the MinHash expansion does — the completeness guarantee therefore
    holds only while honest buckets fit under the cap, i.e. while
    corpus_size / 2^(bits/bands) stays below it. 32-bit fingerprints
    (8-bit bands, 256 values) exhaust that around max_bucket*256 docs;
    pass ``bits=WIDE_BITS`` to both :func:`simhash` and this function
    for the corpus-scale regime (15-bit bands, 32k values)."""
    _validate_bits(bits, bands)
    if bands <= max_hamming:
        raise ValueError(
            f"bands ({bands}) must exceed max_hamming ({max_hamming}) "
            "for complete candidate generation"
        )
    width = bits // bands
    mask = (1 << width) - 1
    bands_sql = "array(%s)" % ", ".join(
        f"concat('{b}:', cast(shiftright(simhash, {b * width}) & {mask} as string))"
        for b in range(bands)
    )
    band_rows = fps.select(
        F.struct("doc_id", "simhash").alias("ds"),
        F.explode(F.expr(bands_sql)).alias("band_key"),
    )
    buckets = band_rows.groupBy("band_key").agg(
        F.array_sort(F.collect_set("ds")).alias("ids")
    )
    buckets = buckets.filter(F.size("ids") >= 2)
    if max_bucket is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket)
    # hamming filter INSIDE the expansion (optimization r14, VERDICT r13
    # item 4): far pairs are dropped bucket-locally before a struct is
    # ever built for them, so the explode materializes (and the global
    # distinct deduplicates) only within-radius rows — at web scale the
    # overwhelming majority of bucket-pair candidates are far. bit_count
    # runs twice per SURVIVING pair (once in the filter, once for the
    # emitted column) and once per rejected pair — cheaper than building
    # a 3-field struct per rejected pair. Values identical: the dropped
    # rows are exactly the ones the downstream hamming filter dropped.
    pairs_arr = F.expr(
        "flatten(transform(ids, (x, i) ->"
        " transform("
        "  filter(slice(ids, i + 2, size(ids)),"
        f"  y -> bit_count(x.simhash ^ y.simhash) <= {int(max_hamming)}),"
        " y -> named_struct("
        "'doc_a', x.doc_id, 'doc_b', y.doc_id,"
        " 'hamming', cast(bit_count(x.simhash ^ y.simhash) as bigint)))))"
    )
    # spread the quadratic pair expansion: the bucket-row frame out of
    # the aggregate is kilobytes, so AQE's byte-based coalescing ran
    # the whole expansion on ONE task (1.36 s single-task stage at
    # sf0.1 while 31 cores idled — optimization r13, guide §2.5); an
    # explicit width-pinned repartition of the TINY bucket rows buys
    # full-width parallelism for the compute-dense expansion at the
    # cost of one metadata-sized exchange. (Pinning the band exchange
    # itself instead was measured WORSE — it dropped the map-side
    # partial collect_set and doubled the query's task seconds. A
    # same-key repartition here is optimized away as redundant, so the
    # spread is keyless round-robin.)
    from .skew import spread_for_compute

    return (
        spread_for_compute(buckets)
        .select(F.explode(pairs_arr).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.hamming")
        # no hamming filter here: the expansion above already dropped
        # every pair past the radius, so only near rows reach the
        # distinct exchange
        .distinct()
    )


def simhash_sql(
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket: int | None = 1000,
    bits: int = BITS,
) -> str:
    """DuckDB mirror of simhash + banded pair generation, INCLUDING the
    ``max_bucket`` degenerate-bucket drop — the cap is part of the
    operator's semantics (a whole band bucket above the cap emits no
    pairs), so the oracle must model it or the two sides diverge as
    soon as the corpus is large enough to saturate a bucket (parity
    held at sf0.01 but broke at sf0.1 before this was mirrored).

    ``bits`` mirrors :func:`simhash`/:func:`simhash_pairs` — the token
    hash is the first ceil(bits/4) md5 hex digits folded to int64
    (md5_prefix_sql, the same fold :func:`_token_hash` computes via
    ``conv``), so the 60-bit corpus-regime shape is oracle-checkable,
    not just the 32-bit demo."""
    _validate_bits(bits, bands)
    toks = f"list_distinct({tokenize_sql('text')})"
    width = bits // bands
    mask = (1 << width) - 1
    cap = f"HAVING count(*) <= {max_bucket}" if max_bucket is not None else ""
    return f"""
    WITH hashed AS (
      -- zero-token docs are excluded (mirrors simhash(): no votes =>
      -- no fingerprint; the empty vote fold would also crash
      -- list_reduce here). Same raw-text ASCII-alnum gate as the
      -- Spark side.
      SELECT doc_id, list_transform({toks}, t -> {md5_prefix_sql('t', (bits + 3) // 4)}) AS hs
      FROM documents
      WHERE regexp_matches(lower(text), '[a-z0-9]')
    ),
    fp AS (
      SELECT doc_id,
             list_reduce(
               list_transform(range({bits}), i ->
                 CASE WHEN list_reduce(list_transform(hs, h ->
                        CASE WHEN (h & (CAST(1 AS BIGINT) << i)) > 0
                             THEN 1 ELSE -1 END), (a,b) -> a+b) > 0
                      THEN (CAST(1 AS BIGINT) << i) ELSE 0 END),
               (a,b) -> a+b) AS simhash
      FROM hashed
    ),
    band_rows AS (
      SELECT doc_id, simhash,
             unnest(list_transform(range({bands}), b ->
               concat(CAST(b AS VARCHAR), ':',
                      CAST((simhash >> (b * {width})) & {mask} AS VARCHAR))))
               AS band_key
      FROM fp
    ),
    kept_buckets AS (
      SELECT band_key FROM band_rows GROUP BY band_key {cap}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      FROM band_rows a
      JOIN kept_buckets k ON k.band_key = a.band_key
      JOIN band_rows b
        ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= {max_hamming}
    """
