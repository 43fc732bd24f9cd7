"""Deduplication operators for web-text corpora — exact, MinHash-LSH,
SimHash, and n-gram Jaccard (training-data-pipeline ops; graded as
first-class components alongside SURVEY.md §2).

Scale design notes (10^12-document regime):
  * exact dedup: one hash-aggregate on md5(text) — partial agg per
    mapper, one shuffle keyed by digest; no skew (digests uniform).
  * MinHash-LSH: per-token xxhash64 stays JVM-side; shingling +
    min-hashing run as ONE Arrow-vectorized numpy kernel per batch
    (interpreted higher-order lambdas measured ~100 µs/element — 380 s
    for 5k docs; the kernel is ~2 s warm).  Banding turns O(n^2) pair
    search into an equi-join on (band_idx, band_hash) — the shuffle key
    is uniform by construction; candidates are verified with exact
    shingle-Jaccard.  Signature tables are local-checkpointed across
    the self-join (or staged to parquet, which is also what the DuckDB
    oracle replays).
  * SimHash: 63-bit majority vote packed in an Arrow kernel over
    JVM-side token hashes; near-dup = OR-of-bands candidate equi-join
    (default: Manku WWW'07 4×16-bit bands at max_hamming=3 — guaranteed
    recall, ~2^16-value join keys) then bit_count(xor) hamming verify;
    looser thresholds require a pre-blocking shard key.
  * n-gram Jaccard: exact pairwise within small blocking groups is the
    *verification* primitive; the discovery path at scale is
    ngram_jaccard_pairs_lsh (unigram-MinHash banded blocking).

All arithmetic stays within int64 under ANSI mode: shingle hashes are
reduced to 31-bit non-negatives before affine min-hashing (overflow
proofs at _minhash_family and shingle_hashes_np).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _fr6(c: Column) -> Column:
    """floor-based half-up rounding to 6 dp — identical double arithmetic
    in Spark and DuckDB (plain ROUND disagrees at half-boundaries:
    Spark rounds the shortest decimal repr, DuckDB the exact double)."""
    return F.floor(c * 1000000.0 + 0.5) / 1000000.0

_MERSENNE31 = 2_147_483_647  # 2^31 - 1


def candidate_bound_check(
    bucketed: DataFrame,
    bucket_cols: list[str],
    op: str,
    rows_per_input: int,
    factor: float = 50.0,
    min_candidates: int = 10_000_000,
) -> None:
    """Fail loudly when LSH banding degenerates to a near-cartesian join.

    Σ|bucket|² over the banding key IS the exact row count the candidate
    self-join will produce (before the id_a < id_b halving) — computed
    here with one cheap aggregate on the (checkpointed) signature table,
    so a degenerate corpus (tiny vocabulary, constant template pages)
    can't silently re-create the O(n²) join that LSH exists to avoid,
    burn the cluster, and *look* like a slow-but-working job.  The bound
    is max(min_candidates, factor·n): small corpora are allowed their
    harmless quadratic (500 degenerate docs → ~2M candidates — fine); at
    production n the factor·n term keeps candidates linear in input.

    The banding explodes each input row into exactly ``rows_per_input``
    rows (one per band), so n = Σ|bucket| / rows_per_input comes out of
    the same aggregate — one Spark job, which is also the job that
    materializes the signature table the join then reads.  A Σ|bucket|
    that is not a multiple of ``rows_per_input`` breaks that invariant
    (a filtered banding, a wrong ``rows_per_input``) and raises
    ValueError rather than guarding with an understated n.
    """
    agg = (
        bucketed.groupBy(*bucket_cols)
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum(F.col("c") * F.col("c")).alias("s"),
            F.sum(F.col("c")).alias("t"),
        )
        .first()
    )
    total = agg["s"]
    total_rows = 0 if agg["t"] is None else int(agg["t"])
    n_rows, rem = divmod(total_rows, int(rows_per_input))
    if rem:
        raise ValueError(
            f"{op}: {total_rows:,} banded rows is not a multiple of "
            f"rows_per_input={rows_per_input}; the banding must emit "
            f"exactly rows_per_input rows per input row"
        )
    bound = max(float(min_candidates), factor * float(n_rows))
    if total is not None and float(total) > bound:
        raise RuntimeError(
            f"{op}: degenerate LSH banding — Σ|bucket|² = {total:,} candidate "
            f"pairs for n = {n_rows:,} input rows (bound {bound:,.0f}). The "
            f"corpus collapses into few buckets (near-constant content or "
            f"too-coarse band keys) and the candidate self-join would be "
            f"near-cartesian at this scale. Pre-block on a shard key (host, "
            f"digest prefix), tighten the banding, or pass "
            f"candidate_guard=False to accept the quadratic join knowingly."
        )


def lsh_candidates(
    banded: DataFrame, key_cols: list[str], op: str, guard: bool, bands: int
) -> DataFrame:
    """THE LSH candidate rule: (id_a, id_b) once per pair of ``banded``
    rows that agree on every ``key_cols`` column, with id_a < id_b.

    ``banded`` holds ``bands`` rows per input row (its band explode);
    every column that is neither ``id`` nor a key rides along as
    ``<c>_a``/``<c>_b``.  With ``guard`` set, candidate_bound_check runs
    first, eagerly.  Pass keys only when the verify payload is heavy:
    the explode multiplies every carried byte by ``bands`` through the
    candidate exchange, while the guarded candidate set is ≤ factor·n
    pairs, so attaching the payload to the surviving pairs afterwards
    moves far fewer bytes (MinHash's 32-long signature and shingle set).
    A payload as small as a key (SimHash's 64-bit fingerprint) may ride.
    """
    if guard:
        candidate_bound_check(banded, key_cols, op, rows_per_input=bands)
    carried = [c for c in banded.columns if c != "id" and c not in key_cols]
    on = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in key_cols]
    return (
        banded.alias("a")
        .join(banded.alias("b"), on + [F.col("a.id") < F.col("b.id")])
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            *[F.col(f"{s}.{c}").alias(f"{c}_{s}") for c in carried for s in "ab"],
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def sig_agreement(a: str, b: str) -> Column:
    """Fraction of positions where MinHash signatures ``a`` and ``b``
    agree — the Jaccard estimate both compaction-time pair discovery
    and the admission-time MinHashIndex probe test against."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x == y).cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    ) / F.size(a)


def set_jaccard(a: str, b: str) -> Column:
    """Exact Jaccard |a ∩ b| / |a ∪ b| of two distinct-element arrays
    (0.0 when both are empty)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Digest-grouped exact duplicates: (digest, n_copies, keep_id).

    keep_id = min id per digest (the canonical survivor); only digests
    with >1 copy are returned.
    """
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("digest"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.min(id_col).alias("keep_id"),
        )
        .where(F.col("n_copies") > 1)
    )


def token_hashes(text: Column) -> Column:
    """Per-token xxhash64 of the whitespace tokenization — the one
    JVM-side hashing pass every dedup signature derives from."""
    toks = F.split(F.trim(F.lower(text)), r"\s+")
    return F.transform(toks, lambda t: F.xxhash64(t))


_ROLL_BASE = 31337  # rolling-hash base; _ROLL_BASE^2 < 2^30 (overflow proof below)


def shingle_hashes_np(th: np.ndarray, n: int) -> np.ndarray:
    """Distinct 31-bit n-gram shingle hashes from a token-hash array —
    rolling polynomial combine, shared by the Spark kernel and tests.

    Window i hash = (Σ_j TH[i+j] · B^(n-1-j)) mod p over windows of n
    consecutive tokens (one whole-doc window when the doc is shorter) —
    the numpy twin of concat-then-hash shingling, at C speed instead of
    an interpreted slice+concat per shingle (which measured ~6 ms/doc).
    Overflow-safe in int64 for ANY n: TH < 2^31 after mod-p and
    coef < 2^31, so each product < 2^62; products are reduced mod p
    PER TERM before the window sum, keeping the sum < n·2^31 (silent
    int64 wrap would need n > 2^32 tokens per shingle).
    """
    TH = np.asarray(th, dtype=np.int64) % _MERSENNE31
    if TH.size == 0:
        return TH
    L = min(n, TH.size)
    coef = np.array([pow(_ROLL_BASE, L - 1 - j, _MERSENNE31) for j in range(L)],
                    dtype=np.int64)
    win = np.lib.stride_tricks.sliding_window_view(TH, L)
    return np.unique(((win * coef[None, :]) % _MERSENNE31).sum(axis=1) % _MERSENNE31)


def _minhash_family(n_hashes: int):
    """Deterministic affine family params (a_i < 2^15 so a_i*h < 2^46 —
    no int64 overflow against 31-bit shingle hashes)."""
    rng = np.random.default_rng(0xD1CE)
    a = rng.integers(1, 32749, size=n_hashes, dtype=np.int64)
    b = rng.integers(0, _MERSENNE31, size=n_hashes, dtype=np.int64)
    return a, b


def minhash_kernel(n_hashes: int = 32, shingle_n: int = 3):
    """Arrow-vectorized (sig, sh) kernel over token-hash arrays.

    Shingling + min-hashing are O(|tokens| · n_hashes) per row — as
    interpreted higher-order lambdas this measured 380 s / 5k docs (and
    ~30 s for the concat-based shingling alone); one numpy broadcast per
    Arrow batch does both at C speed.  Only the per-token xxhash64 stays
    JVM-side (token_hashes)."""
    a, b = _minhash_family(n_hashes)

    @F.pandas_udf("sig array<bigint>, sh array<bigint>")
    def kernel(col: pd.Series) -> pd.DataFrame:
        sig_out, sh_out = [], []
        for th in col:
            sh = shingle_hashes_np(th, shingle_n)
            if sh.size == 0:
                sig_out.append([int(_MERSENNE31)] * n_hashes)
                sh_out.append([])
                continue
            sig = ((a[:, None] * sh[None, :] + b[:, None]) % _MERSENNE31).min(axis=1)
            sig_out.append(sig.tolist())
            sh_out.append(sh.tolist())
        return pd.DataFrame({"sig": sig_out, "sh": sh_out})

    return kernel


def minhash_sig_table(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig: array<long>[n_hashes], sh: array<long>) — the staged
    intermediate between hashing (Spark-only: xxhash64) and the purely
    relational banding/join/verify stage, which a SQL oracle can replay
    from this table."""
    kernel = minhash_kernel(n_hashes, shingle_n)
    packed = docs.select(
        F.col(id_col).alias("id"),
        kernel(token_hashes(F.col(text_col))).alias("p"),
    )
    return packed.select(
        "id", F.col("p.sig").alias("sig"), F.col("p.sh").alias("sh")
    ).where(F.size("sh") > 0)


def minhash_band_keys(
    sigs: DataFrame, n_hashes: int = 32, bands: int = 8
) -> DataFrame:
    """Input columns + (band_idx, band_hash): THE LSH banding key —
    xxhash64 over (band index, comma-joined signature slice).  Pinned
    in one place so compaction-time pair discovery
    (minhash_lsh_pairs_from_sigs) and the admission-time MinHashIndex
    (streaming/index.py) can never disagree on banding."""
    rows_per_band = n_hashes // bands
    return sigs.select(
        "*",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band_idx"),
    ).withColumn(
        "band_hash",
        F.xxhash64(
            "band_idx",
            F.concat_ws(",", F.slice("sig", F.col("band_idx") * rows_per_band + 1,
                                     rows_per_band)),
        ),
    )


def minhash_lsh_pairs_from_sigs(
    sigs: DataFrame,
    n_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.5,
    candidate_guard: bool = False,
) -> DataFrame:
    """Relational stage of MinHash-LSH over a signature table:
    keys-only band candidates (lsh_candidates) → sig/sh payloads
    attached to the surviving pairs → exact-Jaccard verification on the
    shingle sets → threshold + order.

    ``candidate_guard=True`` runs candidate_bound_check eagerly on the
    banded keys first (default off here — the staged-oracle contract
    path wants pure laziness; the discovery wrapper minhash_lsh_pairs
    defaults it ON)."""
    banded = minhash_band_keys(sigs.select("id", "sig"), n_hashes, bands).select(
        "id", "band_idx", "band_hash"
    )
    ids = lsh_candidates(
        banded, ["band_idx", "band_hash"], "minhash_lsh_pairs",
        candidate_guard, bands,
    )
    pay_a = sigs.select(
        F.col("id").alias("id_a"),
        F.col("sig").alias("sig_a"),
        F.col("sh").alias("sh_a"),
    )
    pay_b = sigs.select(
        F.col("id").alias("id_b"),
        F.col("sig").alias("sig_b"),
        F.col("sh").alias("sh_b"),
    )
    return (
        ids.join(pay_a, "id_a").join(pay_b, "id_b")
        .withColumn("est_jaccard", sig_agreement("sig_a", "sig_b"))
        .withColumn("jaccard", set_jaccard("sh_a", "sh_b"))
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", _fr6(F.col("est_jaccard")).alias("est_jaccard"),
                _fr6(F.col("jaccard")).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    candidate_guard: bool = True,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash-LSH + exact verification.

    (id_a, id_b, est_jaccard, jaccard) with id_a < id_b, filtered on the
    EXACT token-shingle Jaccard of the candidates, ordered output.

    The signature table is local-checkpointed (lazily: the first job —
    the guard's — materializes it): the banding self-join would
    otherwise recompute every signature once per join side × band, and
    unlike ``persist()`` nothing is left registered in the session's
    cache once the result is released.  At production scale,
    materialize it to a table instead (the contract path stages it to
    parquet — same shape).

    The discovery path guards its banding (candidate_bound_check): a
    degenerate corpus must fail loudly, not run O(n²) quietly.
    """
    sigs = minhash_sig_table(
        docs, text_col, id_col, n_hashes, shingle_n
    ).localCheckpoint(eager=False)
    return minhash_lsh_pairs_from_sigs(
        sigs, n_hashes, bands, jaccard_threshold, candidate_guard=candidate_guard
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str = "lang",
    threshold: float = 0.4,
) -> DataFrame:
    """Exact token-set Jaccard over pairs within a blocking key.

    The SQL-oracle-able verification primitive: pairs are restricted to
    equal ``block_col`` (at scale the block is an LSH bucket, not lang).
    Token sets via split+array_distinct; Jaccard via set_jaccard — all
    JVM-side.
    """
    toks = F.array_distinct(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
    d = docs.select(
        F.col(id_col).alias("id"), F.col(block_col).alias("blk"), toks.alias("toks")
    )
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id")))
        .withColumn("jaccard", set_jaccard("a.toks", "b.toks"))
        .where(F.col("jaccard") >= threshold)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            _fr6(F.col("jaccard")).alias("jaccard"),
        )
        .orderBy("id_a", "id_b")
    )


def simhash_from_hashes(hashes: Column) -> Column:
    """63-bit SimHash from a token-hash array: per-bit majority vote,
    bit 63 excluded so the packed value stays a non-negative int64.

    Arrow-vectorized numpy kernel (same rationale as
    minhash_from_shingles: the O(|tokens| · 63) vote matrix per row is
    prohibitive as interpreted lambdas); token hashing stays JVM-side.
    Tie votes → bit 0, matching an aggregate-of-±1 > 0 test.
    """
    from pyspark.sql.types import LongType

    shifts = np.arange(63, dtype=np.uint64)

    @F.pandas_udf(LongType())
    def sh(col: pd.Series) -> pd.Series:
        out = np.zeros(len(col), dtype=np.int64)
        for r, h in enumerate(col):
            H = np.asarray(h, dtype=np.int64)
            if H.size == 0:
                continue
            bits = (H.view(np.uint64)[:, None] >> shifts[None, :]) & np.uint64(1)
            votes = 2 * bits.sum(axis=0, dtype=np.int64) - H.size
            out[r] = int(((votes > 0).astype(np.uint64) << shifts).sum())
        return pd.Series(out)

    return sh(hashes)


def with_simhash(docs: DataFrame, text_col: str = "text", out_col: str = "sh") -> DataFrame:
    """Attach a 63-bit token-set SimHash column — per-token xxhash64
    JVM-side, bit-vote packing in the Arrow kernel."""
    return (
        docs.withColumn(
            "__toks__", F.array_distinct(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
        )
        .withColumn("__hashes__", F.expr("transform(__toks__, t -> xxhash64(t))"))
        .withColumn(out_col, simhash_from_hashes(F.col("__hashes__")))
        .drop("__toks__", "__hashes__")
    )


def simhash_sig_table(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, sh: long) — staged intermediate; banding/hamming over it is
    purely relational and SQL-oracle-able."""
    return with_simhash(
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text__")),
        "__text__",
        "sh",
    ).select("id", "sh")


def simhash_band_bounds(bands: int, total_bits: int = 63) -> list[tuple[int, int]]:
    """(start_bit, width) per band — contiguous blocks covering all 63
    fingerprint bits; the first ``total_bits % bands`` bands are one bit
    wider.  Shared by the Spark operator, the DuckDB oracle generator,
    and the recall test so all three replay identical banding."""
    base, rem = divmod(total_bits, bands)
    out, start = [], 0
    for i in range(bands):
        w = base + (1 if i < rem else 0)
        out.append((start, w))
        start += w
    return out


def simhash_pairs_from_sigs(
    sigs: DataFrame,
    max_hamming: int = 3,
    bands: int | None = None,
    block_col: str | None = None,
    candidate_guard: bool = False,
) -> DataFrame:
    """Relational stage of SimHash near-dup: OR-of-bands candidate join,
    then hamming-distance verify via bit_count(xor).

    The fingerprint's 63 bits are split into ``bands`` contiguous blocks
    and a pair is a candidate when ANY block matches exactly (explode →
    equi-join on (band_idx, band_val) → dedup).  Pigeonhole: ``h``
    differing bits corrupt at most ``h`` blocks, so recall is exactly
    1.0 whenever ``bands > max_hamming`` — the DEFAULT
    (``max_hamming + 1`` bands).

    The DEFAULT THRESHOLD is the scale-safe Manku WWW'07 shape:
    ``max_hamming=3`` ⇒ 4 blocks of 15-16 bits — guaranteed recall AND
    ~2^16-value join keys, so per-bucket size is ~n/2^16 and the
    candidate self-join stays near-linear at 10^12 docs.  A LOOSER
    threshold forces narrow blocks (e.g. hamming ≤ 8 ⇒ 9×7-bit bands ⇒
    128-value keys ⇒ O(n²/128) candidates — a disguised cartesian at
    web scale), so ``bands > 4`` additionally REQUIRES ``block_col``, a
    pre-blocking shard key (host, digest prefix, language) carried in
    ``sigs`` that the candidate join also equates on — bucket sizes
    then stay bounded by block size, at the documented cost of missing
    cross-block pairs.  Small-corpus verification twins that genuinely
    want unblocked narrow bands opt in with ``block_col=""``.

    ``candidate_guard=True`` additionally runs candidate_bound_check
    eagerly on the banded keys (the discovery wrapper defaults it ON).
    """
    if bands is None:
        bands = max_hamming + 1
    if bands > 4 and block_col is None:
        raise ValueError(
            f"simhash banding with bands={bands} produces "
            f"{2 ** (63 // bands)}-value band keys — O(n²/{2 ** (63 // bands)}) "
            f"candidate pairs, a near-cartesian join at web scale. Pass "
            f"block_col=<shard key column in sigs> to pre-block the "
            f"candidate join (or block_col='' to knowingly run unblocked "
            f"on a small corpus), or use max_hamming <= 3 (4×16-bit "
            f"Manku bands)."
        )
    band_vals = F.array(
        *[
            F.shiftright("sh", start).bitwiseAND(F.lit((1 << width) - 1))
            for start, width in simhash_band_bounds(bands)
        ]
    )
    blocks = [block_col] if block_col else []  # "" / None => unblocked
    banded = sigs.select(
        "id", "sh", *blocks, F.posexplode(band_vals).alias("band_idx", "band_val")
    )
    return (
        lsh_candidates(
            banded, ["band_idx", "band_val", *blocks], "simhash_neardup_pairs",
            candidate_guard, bands,
        )
        .withColumn(
            "hamming",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int"),
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .orderBy("id_a", "id_b")
    )


def simhash_neardup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int | None = None,
    block_col: str | None = None,
    candidate_guard: bool = True,
) -> DataFrame:
    """SimHash near-dup pairs: OR-of-bands candidate join + hamming
    verify (see simhash_pairs_from_sigs; the default max_hamming=3 ⇒
    4×16-bit Manku bands — guaranteed recall, scale-safe band keys).
    Loose thresholds (bands > 4) require a pre-blocking ``block_col``
    carried from ``docs``.  Sig table local-checkpointed — see
    minhash_lsh_pairs; the discovery path guards its banding
    (candidate_bound_check)."""
    sigs = simhash_sig_table(docs, text_col, id_col)
    if block_col:
        keyed = docs.select(F.col(id_col).alias("id"), F.col(block_col))
        sigs = sigs.join(keyed, "id")
    return simhash_pairs_from_sigs(
        sigs.localCheckpoint(eager=False), max_hamming, bands, block_col=block_col,
        candidate_guard=candidate_guard,
    )


def dedup_clusters(pairs: DataFrame, max_iters: int = 50) -> DataFrame:
    """Connected components over a near-dup pair graph → canonical
    cluster id (the component's min doc id) per member, so a dedup
    pipeline can keep one survivor per cluster.

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): each round hangs
    every node under the minimum of its closed neighborhood, which
    contracts paths by doubling — rounds scale with **log(diameter)**,
    not diameter, so a 10^6-long template-spam chain (exactly what
    near-dup graphs produce at web scale) converges in ~20 rounds where
    plain min-label propagation would need 10^6.  Each round is one
    self-join + aggregate on uniform keys; the loop is driver-CONTROLLED
    but never driver-DATA (only the changed-edge count is collected).
    If the graph somehow fails to converge within ``max_iters`` the
    function RAISES rather than returning silently wrong cluster ids.
    """
    # parent pointers: start with each node pointing at min(closed nbhd)
    sym = pairs.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    ).unionByName(
        pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
    )
    # edges as (u, v) with u>v not required; parent = min neighbor ∪ self
    # localCheckpoint per round: the parent table is referenced 3x per
    # round (hop join, star join, changed-count join) — without lineage
    # truncation the logical plan doubles every round and the DRIVER
    # dies planning it long before any data-size limit (checkpointing a
    # 10^9-row label table to the block manager is the standard CC shape)
    parent = (
        sym.groupBy("u")
        .agg(F.least(F.min("v"), F.first("u")).alias("p"))
        .select(F.col("u").alias("id"), F.least("p", "id").alias("parent"))
        .localCheckpoint(eager=True)
    )
    edges = sym.localCheckpoint(eager=True)
    for it in range(max_iters):
        # pointer-doubling round: parent ← parent(parent)  (path halving)
        p1 = parent.select(F.col("id").alias("pid"), F.col("parent").alias("gp"))
        hopped = (
            parent.join(p1, parent.parent == p1.pid)
            .select("id", F.col("gp").alias("parent"))
        )
        # star-contraction round: every node also adopts the min parent
        # seen across its edges (keeps separate stars merging)
        cand = (
            edges.join(
                hopped.select(F.col("id").alias("v"), F.col("parent").alias("vp")),
                "v",
            )
            .groupBy("u")
            .agg(F.min("vp").alias("nbr_min"))
            .select(F.col("u").alias("id"), "nbr_min")
        )
        merged = (
            hopped.join(cand, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("parent"), F.coalesce("nbr_min", F.col("parent"))
                ).alias("parent"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            merged.alias("n")
            .join(parent.alias("o"), "id")
            .where(F.col("n.parent") != F.col("o.parent"))
            .count()
        )
        parent = merged
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"dedup_clusters failed to converge in {max_iters} "
            "large-star/small-star rounds — graph diameter pathologically "
            "large or pair table inconsistent; refusing to return wrong "
            "cluster ids"
        )
    # cluster_id keeps the id column's own type (long doc ids, string
    # urls, ...) — the cast is a no-op for homogeneous pairs but pins the
    # output schema when the CC loop widened a literal
    id_type = pairs.schema["id_a"].dataType
    return parent.select(
        "id", F.col("parent").cast(id_type).alias("cluster_id")
    ).orderBy("id")


def exact_dup_pairs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id_a, id_b) star pairs per exact-content duplicate group — the
    digest-group min id paired with every other member.  A star spans
    the same connected component as the full clique at |group| edges
    instead of |group|², and exact equality is transitive, so CC over
    these pairs equals CC over all-pairs equality.
    """
    d = docs.select(F.col(id_col).alias("m_id"), F.md5(F.col(text_col)).alias("digest"))
    dups = exact_duplicates(docs, text_col, id_col)  # (digest, n_copies, keep_id)
    # digest-keyed equi-join: uniform shuffle key, dup-group side is
    # |groups| rows (not broadcast — unbounded at corpus scale)
    return (
        d.join(dups, "digest")
        .where(F.col("m_id") != F.col("keep_id"))
        .select(
            F.least("keep_id", "m_id").alias("id_a"),
            F.greatest("keep_id", "m_id").alias("id_b"),
        )
    )


def dedup_survivors(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    keep_by: str | None = None,
    descending: bool = True,
) -> DataFrame:
    """Keep-list materialization — the last stage of a dedup pipeline:
    every doc not in any near-dup pair survives; each connected
    component keeps exactly one member — its min-id by default, or (the
    RefinedWeb-style policy) its best member by ``keep_by`` (e.g. a
    quality_score column; ``descending=True`` keeps the HIGHEST, ties
    break to min id so the choice is total and rerun-stable).

    Scale shape: the cluster-label table is |members of dup clusters|
    (≪ corpus size on real web data); the ``keep_by`` form adds one
    equi-join of that small table against the corpus (Catalyst/AQE
    broadcasts the label side) and a per-cluster window over bounded
    cluster sizes — and either way the corpus is filtered with ONE
    left-anti hash join against the non-survivor ids: the 10^12-row
    side is never collected, sorted, or re-keyed.
    """
    labels = dedup_clusters(pairs)
    if keep_by is None:
        losers = labels.where(F.col("id") != F.col("cluster_id")).select(
            F.col("id").alias(id_col)
        )
    else:
        from pyspark.sql.window import Window

        members = docs.join(
            labels, docs[id_col] == labels["id"]
        ).select(
            labels["id"].alias("_m_id"),
            "cluster_id",
            F.col(keep_by).alias("_m_key"),
        )
        order = [
            F.desc("_m_key") if descending else F.asc("_m_key"),
            F.asc("_m_id"),
        ]
        losers = (
            members.withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("cluster_id").orderBy(*order)
                ),
            )
            .where(F.col("_rn") > 1)
            .select(F.col("_m_id").alias(id_col))
        )
    return docs.join(losers, id_col, "left_anti")


def ngram_jaccard_pairs_lsh(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    n_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Token-set Jaccard near-dup pairs with MinHash-LSH blocking — the
    SCALE path for ``ngram_jaccard_pairs`` (whose equal-``lang`` blocking
    is a disguised cartesian product on a web corpus: ~5 unbounded
    blocks).

    Candidates come from banded unigram-MinHash buckets (uniform shuffle
    key, Σ|bucket|² ≪ n² on non-degenerate corpora), each verified with
    the same exact token-set Jaccard and emitted in the same
    (id_a, id_b, jaccard) shape.  Recall follows the 1−(1−t^r)^b LSH
    curve — with r=4, b=8 a true pair at jaccard 0.8 survives with
    p ≈ 0.985, while unrelated Zipf-text pairs (token jaccard ~0.1 from
    shared stop-band words) band-collide at ~1e-4 — r=2 measured 1.9M
    candidates on 5k docs, r=4 measures ~10k.  Sub-near-dup thresholds
    (< ~0.5) belong to the exact blocked form, which remains the oracle
    twin.
    """
    pairs = minhash_lsh_pairs(
        docs,
        text_col=text_col,
        id_col=id_col,
        n_hashes=n_hashes,
        bands=bands,
        shingle_n=1,
        jaccard_threshold=threshold,
    )
    return pairs.select("id_a", "id_b", "jaccard").orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Sub-document (line-level) dedup — CCNet-style duplicated-paragraph
# removal (r6).  Whole-document dedup keeps one copy of a template page;
# line dedup strips the template ITSELF from otherwise-unique pages —
# the piece that actually shrinks boilerplate-heavy web text.  This is a
# per-CORPUS operation (a line's document frequency is a corpus
# statistic), so in the streaming pipeline it belongs at compaction
# time, not in the per-batch admission gate (streaming/compaction.py
# compact_strip_lines).
# ---------------------------------------------------------------------------


def boilerplate_line_digests(
    docs: DataFrame,
    max_docs_per_line: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_sep: str = "\n",
) -> DataFrame:
    """One-column (``digest``) table of md5 line digests appearing in
    MORE than ``max_docs_per_line`` distinct documents — the corpus
    boilerplate-line profile.  Blank-after-trim lines are exempt (they
    are structure, not content, and would trivially top any frequency
    table).  Shape: one explode + one digest-keyed hash aggregate —
    word-count profile, uniform shuffle key (md5 avalanche breaks up
    even a template-farm corpus).  md5 (not xxhash64) so a DuckDB
    oracle can replay the digesting directly."""
    lines = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), line_sep)).alias("line"),
    ).where(F.length(F.trim("line")) > 0)
    return (
        lines.groupBy(F.md5("line").alias("digest"))
        .agg(F.count_distinct("id").alias("n_docs"))
        .where(F.col("n_docs") > max_docs_per_line)
        .select("digest")
    )


def line_dedup(
    docs: DataFrame,
    max_docs_per_line: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_sep: str = "\n",
    boilerplate: DataFrame | None = None,
) -> DataFrame:
    """Strip corpus-frequent lines from every document: lines whose
    digest appears in > ``max_docs_per_line`` distinct docs are removed,
    the remainder reassembled in original order.  All columns pass
    through unchanged except ``text_col``; a document losing every line
    keeps an empty string (the quality gate downstream is the place
    that drops empty docs — keeping the row preserves id lineage).

    ``boilerplate`` overrides the profile frame — the targeted
    compaction path computes it once over the FULL active snapshot and
    rewrites only affected commits with it.

    Shape: one posexplode, one digest-keyed left-anti join against the
    (small) boilerplate profile, one per-doc bounded
    collect_list/array_sort reassembly keyed on ``id_col`` — uniform
    shuffle keys throughout, no collect, no Python in the plan.
    """
    if boilerplate is None:
        boilerplate = boilerplate_line_digests(
            docs, max_docs_per_line, text_col, id_col, line_sep
        )
    lines = docs.select(
        F.col(id_col).alias("_ld_id"),
        F.posexplode(F.split(F.col(text_col), line_sep)).alias("pos", "line"),
    )
    kept = lines.withColumn("digest", F.md5("line")).join(
        boilerplate, "digest", "left_anti"
    )
    new_text = kept.groupBy("_ld_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            line_sep,
        ).alias("_ld_text")
    )
    out_cols = [
        F.coalesce("_ld_text", F.lit("")).alias(text_col) if c == text_col
        else F.col(c)
        for c in docs.columns
    ]
    return (
        docs.join(new_text, docs[id_col] == new_text["_ld_id"], "left")
        .select(*out_cols)
    )


# ---------------------------------------------------------------------------
# Sub-document TOKEN-WINDOW dedup — ExactSubstr-flavored repeated-span
# removal (Lee et al. 2022, "Deduplicating Training Data Makes Language
# Models Better", §4.1).  Line dedup (above) only catches repetition that
# happens to align with '\n' boundaries; a syndicated paragraph pasted
# mid-line, a quoted chain letter, or a template sentence woven into
# running text repeats at TOKEN granularity.  The reference algorithm
# builds a corpus-wide suffix array and keeps one copy of every
# duplicated span ≥ 50 BPE tokens; the relational recast here detects
# duplication through fixed-length token windows (k consecutive tokens,
# the span threshold) — any repeated span of ≥ k tokens contains at
# least one repeated k-window, so detection is equivalent at k-token
# resolution, and removal proceeds window-by-window.
#
# Scale shape (the suffix array is the thing that does NOT distribute):
# one Arrow-vectorized digest kernel per doc (NARROW — tokens never
# cross a shuffle; only 32-char window digests do), one digest-keyed
# hash aggregate to find repeats (word-count shape, md5 avalanche key),
# then cut-position set algebra and per-doc bounded reassembly joins
# that touch ONLY affected docs (targeted, O(docs containing repeats)).
# All md5-based, so a DuckDB oracle replays the whole pipeline from raw
# text with no staged intermediates (tests/test_window_dedup.py).
# ---------------------------------------------------------------------------


def window_digest_kernel(k: int, sample_p: int = 1):
    """Arrow kernel: text → (pos, digest) structs — md5 hex of every
    k-token window, mod-p SAMPLED.  Tokenization is whitespace-split +
    drop-empties over Java's exact ``\\s`` class — pinned to match
    ``F.filter(F.split(F.trim(c), r"\\s+"), len > 0)`` (Spark) and
    ``list_filter(string_split_regex(trim(t), '\\s+'), x -> x <> '')``
    (DuckDB) so all three engines digest identical window strings
    (boundary empties vanish in the filters, so trim-vs-no-trim is
    immaterial; Python's Unicode-aware ``\\s`` would diverge on U+00A0
    and friends and is deliberately not used).  Docs shorter than k
    tokens emit no windows (nothing a k-span dedup could remove).

    ``sample_p`` ∈ {1, 2, 4, 8, 16} keeps the ~1/p of windows whose
    digest's LAST HEX NIBBLE is < 16/p — Manber's 0-mod-p fingerprint
    sampling ("Finding Similar Files", USENIX 1994).  Selection is
    CONTENT-defined, so two copies of a span select the same windows
    wherever they sit (a fixed stride cannot: window phases in two docs
    may never align, silently missing every repeat).  A repeated span
    with m = L−k+1 windows is detected with probability 1−(1−1/p)^m —
    at the reference's k=50-token spans and p=8, a 100-token repeat is
    caught with p ≈ 0.999.  The sampling divides the DOWNSTREAM explode
    + shuffle volume by p (the scale knob — the narrow kernel's md5
    cost per window, ~1 µs C-backed, is not the bottleneck; the
    occurrence shuffle is).
    """
    if sample_p not in (1, 2, 4, 8, 16):
        raise ValueError("sample_p must be one of 1, 2, 4, 8, 16")
    keep_below = 16 // sample_p
    allowed = set("0123456789abcdef"[:keep_below])
    import hashlib
    import re

    @F.pandas_udf("array<struct<pos: long, digest: string>>")
    def kern(texts: pd.Series) -> pd.Series:
        # Java's \s class EXACTLY (not Python's, which is Unicode-aware
        # and would split on U+00A0 etc. where the Spark reassembly and
        # the DuckDB oracle do not); boundary empties are dropped by the
        # filter, matching F.filter(F.split(...), len>0) with no strip
        ws = re.compile(r"[ \t\n\x0b\f\r]+")
        out = []
        for t in texts:
            toks = [w for w in ws.split(t or "") if w]
            n = len(toks)
            if n < k:
                out.append([])
                continue
            wins = []
            for i in range(0, n - k + 1):
                dg = hashlib.md5(
                    " ".join(toks[i : i + k]).encode("utf-8")
                ).hexdigest()
                if dg[-1] in allowed:
                    wins.append((i, dg))
            out.append(wins)
        return pd.Series(out)

    return kern


def window_occurrences(
    docs: DataFrame,
    k: int = 8,
    sample_p: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(_wd_id, pos, digest) — one row per SELECTED k-token window
    occurrence; ``pos`` is the 0-based token index of the window start.
    The explode is inline with the kernel call (generator input stays
    an expression, not a projected attribute — the
    InferFiltersFromGenerate discipline, see session.py)."""
    kern = window_digest_kernel(k, sample_p)
    return docs.select(
        F.col(id_col).alias("_wd_id"),
        F.explode(kern(F.col(text_col))).alias("w"),
    ).select(
        "_wd_id",
        F.col("w.pos").alias("pos"),
        F.col("w.digest").alias("digest"),
    )


def window_cut_positions(
    docs: DataFrame,
    k: int = 8,
    sample_p: int = 1,
    mode: str = "keep_first",
    max_docs_per_window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The (local-checkpointed) cut set (_wd_id, pos) of ``window_dedup`` —
    exposed separately so the compaction pass can compute it once over
    the FULL active snapshot and feed the targeted rewrite
    (streaming/compaction.py compact_window_dedup), exactly like the
    boilerplate-line profile.  Semantics of the two modes are documented
    on ``window_dedup``."""
    if mode not in ("keep_first", "frequent"):
        raise ValueError(f"unknown mode {mode!r}")
    # the kernel output is consumed by two plan branches (the group
    # profile and the join probe) — checkpoint so the md5 pass over the
    # corpus runs ONCE, the same discipline as the LSH signature tables
    occ = window_occurrences(
        docs, k, sample_p, text_col, id_col
    ).localCheckpoint(eager=False)

    if mode == "frequent":
        bad = (
            occ.groupBy("digest")
            .agg(F.count_distinct("_wd_id").alias("n_docs"))
            .where(F.col("n_docs") > max_docs_per_window)
            .select("digest")
        )
        # boilerplate windows are cut everywhere: no survivor flag
        marked = occ.join(bad, "digest").withColumn(
            "_wd_keep", F.lit(False)
        )
    else:
        groups = (
            occ.groupBy("digest")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min(F.struct("_wd_id", "pos")).alias("keep"),
            )
            .where(F.col("n") > 1)
            .select("digest", "keep")
        )
        marked = occ.join(groups, "digest").select(
            "_wd_id",
            "pos",
            (
                (F.col("_wd_id") == F.col("keep._wd_id"))
                & (F.col("pos") == F.col("keep.pos"))
            ).alias("_wd_keep"),
        )

    # ONE pass computes the cut set: a token position is cut iff it is
    # covered by some repeated-window occurrence and by NO surviving
    # occurrence (max(_wd_keep) == false) — the survivor-protection
    # anti-join collapsed into an aggregate.  `cut` is small (≤ repeated
    # span tokens) and consumed by three branches — checkpoint it.
    cut = (
        marked.select(
            "_wd_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("pos"),
            "_wd_keep",
        )
        .groupBy("_wd_id", "pos")
        .agg(F.max("_wd_keep").alias("_k"))
        .where(~F.col("_k"))
        .select("_wd_id", "pos")
        .localCheckpoint(eager=False)
    )
    return cut


def window_dedup(
    docs: DataFrame,
    k: int = 8,
    sample_p: int = 1,
    mode: str = "keep_first",
    max_docs_per_window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    cut: DataFrame | None = None,
) -> DataFrame:
    """Remove repeated k-token windows from every document, reassembling
    the surviving tokens in order (all other columns pass through; a doc
    losing every token keeps an empty string, same contract as
    ``line_dedup``).

    ``mode="keep_first"`` (ExactSubstr semantics): a window string
    occurring more than once in the corpus keeps ONLY its globally
    first occurrence — min (id, pos) — and every other occurrence's
    token span is cut.  Tokens covered by BOTH a surviving occurrence
    and a cut occurrence are protected (self-overlapping repeats like
    "w w w w" would otherwise mangle the kept copy).  Deterministic for
    any input ordering: the survivor rule is a total order, not arrival
    luck.

    ``mode="frequent"`` (boilerplate semantics, the window-granular twin
    of ``line_dedup``): windows appearing in more than
    ``max_docs_per_window`` DISTINCT docs are boilerplate and every
    occurrence is cut — nothing is kept, matching how nav/cookie/footer
    text should vanish entirely.

    ``cut`` overrides the cut set — the targeted compaction path
    computes it once over the FULL active snapshot
    (``window_cut_positions``) and rewrites only affected commits with
    it; cut rows for docs absent from ``docs`` are inert (the final
    left join is driven by ``docs``).

    Shape: kernel (narrow) → digest hash-agg → cut-position set algebra
    (equi-joins on (_wd_id, pos), explode bounded by cut spans) → ONE
    semi-join restricting the posexplode+reassembly rewrite to affected
    docs only — an untouched doc's text bytes are never re-derived.
    """
    if cut is None:
        cut = window_cut_positions(
            docs, k, sample_p, mode, max_docs_per_window, text_col, id_col
        )

    affected = cut.select("_wd_id").distinct().withColumn("_wd_hit", F.lit(True))

    toks_expr = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: F.length(x) > 0
    )
    tok_rows = (
        docs.join(
            affected.withColumnRenamed("_wd_id", id_col).select(id_col),
            id_col,
            "left_semi",
        )
        .select(
            F.col(id_col).alias("_wd_id"),
            F.posexplode(toks_expr).alias("pos", "tok"),
        )
    )
    kept = tok_rows.join(cut, ["_wd_id", "pos"], "left_anti")
    new_text = kept.groupBy("_wd_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("_wd_text")
    )
    rewritten = affected.join(new_text, "_wd_id", "left")
    out_cols = [
        F.when(F.col("_wd_hit"), F.coalesce("_wd_text", F.lit("")))
        .otherwise(F.col(text_col))
        .alias(text_col)
        if c == text_col
        else F.col(c)
        for c in docs.columns
    ]
    return docs.join(
        rewritten, docs[id_col] == rewritten["_wd_id"], "left"
    ).select(*out_cols)
