"""Deduplication operators over a document corpus.

Three tiers, all shuffle-architected for 100 TB:

- **Exact**: hash-groupBy on a canonical fingerprint. One shuffle on the
  16-byte hash; partial aggregation collapses duplicates map-side, so the
  shuffle carries ~|distinct| rows, not |corpus|.
- **MinHash + LSH**: per-doc signature (k minhashes over character
  shingles) computed scan-side with zero shuffle; banding turns
  near-duplicate detection into an equi-join on (band_id, band_hash) —
  the only shuffle is on band buckets, and candidate verification
  (exact Jaccard) runs only inside buckets. This is the standard
  shingle→minhash→band→bucket-join pipeline (Broder '97 / MMDS ch.3).
- **Blocked n-gram Jaccard**: exact Jaccard within cheap blocking keys.

MD5 is used as the hash family (seeded by prefixing the band/hash index)
so every stage is engine-portable and differentially testable against
DuckDB; substitute xxhash64 for raw speed where parity is not required.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.tables import fan_out
from ..functions.text import (
    char_ngrams_t,
    fingerprint,
    normalized,
    tokens,
    word_ngrams_t,
)


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct canonical text: (text_hash, n_copies, keeper).

    The keeper is the minimum id — a deterministic survivor policy."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias(f"keeper_{id_col}"),
        )
    )


def shingle_sets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "word",
    k: int = 3,
) -> DataFrame:
    """(id, sh): the distinct shingle set per document, with the
    tokenization STAGED as its own projection so the regex split runs
    once per row (see functions.text.tokens performance note; unstaged,
    the signature pipeline was 13× slower).

    ``word`` n-grams discriminate much better than char n-grams on
    shared-vocabulary corpora: char-5-grams over the driver's word-soup
    documents put EVERY doc pair at Jaccard ~0.5 and LSH candidates
    explode quadratically (measured: 1.1M pairs at sf0.1); word trigrams
    yield ~800 candidates on the same data.
    """
    if mode == "word":
        staged = df.select(F.col(id_col), tokens(text_col).alias("_tok"))
        ngrams = word_ngrams_t(F.col("_tok"), k)
    elif mode == "char":
        staged = df.select(F.col(id_col), normalized(text_col).alias("_norm"))
        ngrams = char_ngrams_t(F.col("_norm"), k)
    else:
        raise ValueError(f"unknown shingle mode {mode!r}")
    return staged.select(F.col(id_col), F.array_distinct(ngrams).alias("sh"))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_k: int = 3,
    shingle_mode: str = "word",
) -> DataFrame:
    """(id, mh0..mh{n-1}): per-doc MinHash signature.

    minhash_i(doc) = min over shingles s of an 8-hex-char slice of
    md5(seed || ':' || s), seed = i // 4, slice = i % 4 — each md5
    yields FOUR independent 32-bit hash functions, so n signatures cost
    ⌈n/4⌉ md5 calls per shingle instead of n (md5 is the dominant cost:
    measured ~2× on the q42 pipeline at sf0.1). Fixed-width hex slices
    compare lexicographically == numerically, the min stays
    order-exchangeable, scan-side, engine-reproducible.
    """
    sh_df = shingle_sets(df, text_col, id_col, shingle_mode, shingle_k)
    return _signatures_from_shingles(sh_df, id_col, num_hashes)


def _hasher(seed: int):
    # NB: the lambda must take exactly ONE argument — F.transform
    # passes (element, index) to two-argument lambdas, which would
    # silently replace a default-arg seed with the array index.
    prefix = f"{seed}:"
    return lambda s: F.md5(F.concat(F.lit(prefix), s))


def _signatures_from_shingles(
    sh_df: DataFrame, id_col: str, num_hashes: int, keep_sh: bool = False
) -> DataFrame:
    n_seeds = -(-num_hashes // 4)
    # keep_sh emits the shingle array under its fixed column name 'sh'
    # beside the id — an id column NAMED 'sh' would silently duplicate
    # (ADVICE r12); fail loudly instead, also under python -O
    if keep_sh and id_col == "sh":
        raise ValueError(
            "keep_sh=True reserves the column name 'sh' for the shingle "
            f"array; id_col={id_col!r} collides"
        )
    # stage the md5 arrays ONCE per seed, in their own projection —
    # slice-mins in the same select would re-evaluate the md5 transform
    # per output column (no cross-lambda subexpression elimination)
    extra = [F.col("sh")] if keep_sh else []
    staged = sh_df.select(
        F.col(id_col),
        *extra,
        *[
            F.transform(F.col("sh"), _hasher(seed)).alias(f"_hex{seed}")
            for seed in range(n_seeds)
        ],
    )
    def _slicer(off: int):
        # one-arg lambda ONLY (see _hasher note: two-arg lambdas get
        # (element, index) and the index would clobber a default arg)
        return lambda x: F.substring(x, off, 8)

    cols = [F.col(id_col)] + extra
    for i in range(num_hashes):
        seed, off = i // 4, (i % 4) * 8 + 1
        cols.append(
            F.array_min(
                F.transform(F.col(f"_hex{seed}"), _slicer(off))
            ).alias(f"mh{i}")
        )
    return staged.select(*cols)


def banded_signatures(
    sigs: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band_hash): each signature exploded into its LSH band
    hashes — md5('b|mh..mh') per band. THE band construction: the
    join pipeline (lsh_candidate_pairs), the skew audit (q162) and the
    calibration (q163) all call this one function, so the banding
    scheme cannot drift between the production path and its audits."""
    assert num_hashes % bands == 0, (
        f"num_hashes ({num_hashes}) must divide evenly into bands ({bands}); "
        "a remainder would silently drop trailing minhash columns and weaken "
        "the LSH recall guarantee"
    )
    rows_per_band = num_hashes // bands
    band_cols = [
        F.md5(
            F.concat_ws(
                "|",
                F.lit(str(b)),
                *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)],
            )
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    return sigs.select(
        F.col(id_col),
        F.explode(F.array(*band_cols)).alias("band_hash"),
    )


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_k: int = 3,
    shingle_mode: str = "word",
    bands: int = 4,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard >= threshold).

    Pipeline: signature -> band hashes -> explode bands -> self-equi-join
    on (band, band_hash) -> distinct candidate pairs -> exact Jaccard
    verify on distinct shingle sets. Only bucket-mates are ever compared,
    so cost scales with bucket occupancy, not corpus².
    """
    assert num_hashes % bands == 0
    # fan_out (r12, guide §2.5): the tokenize+md5 pipeline below is the
    # heaviest per-row work in the dedup/graph family and runs entirely
    # in the scan stage — which on the single-file testdata is ONE
    # task.  One adaptive exchange of the raw (id, text) input spreads
    # it across the session's cores; at scale the guard never fires.
    #
    # Stage (id, sh, mh0..mh{n-1}) ONCE for every downstream branch.
    # The r11 form repartitioned the SHINGLES and computed signatures
    # above that exchange — so the ⌈n/4⌉ md5-per-shingle folds (the
    # measured dominant cost of this pipeline) re-ran once per banded
    # side (verified in the q42 runtime final plan: two Generate
    # branches each re-evaluating the mh folds over the reused
    # exchange).  Computing the signatures BELOW a shared barrier would
    # break ReusedExchange via per-consumer column pruning, so the
    # staging is a localCheckpoint (the q48/q277 rule): one
    # materialization per execution, id-partitioned for the verify
    # joins, ~64 B/row of signature columns beside the shingle arrays
    # the old exchange already carried.  Measured (solo min-of-4,
    # sf0.1): q42 1.95 → 1.52 s, q49 3.43 → 2.37, q111 2.02 → 1.39,
    # q269 2.41 → 1.78 — the staging propagates to every graph-family
    # consumer of this feed.
    #
    # 100 TB caveat (ADVICE r12): unlike fan_out's parallelism guard
    # this checkpoint fires at EVERY scale, and local checkpoint blocks
    # are not lineage-recoverable — an executor loss (or dynamic
    # allocation reclaiming one) forfeits the blocks where shuffle
    # files would have been fetched or recomputed.  On a real cluster
    # trade it per corpus: keep the checkpoint where the ⌈n/4⌉ md5
    # folds dominate (they re-run ONCE PER BANDED SIDE without it) and
    # executors are stable; under aggressive dynamic allocation,
    # replace with .repartition(id_col) and accept the duplicated fold
    # — both forms are value-identical.
    sig_sh = (
        _signatures_from_shingles(
            shingle_sets(
                fan_out(df.select(id_col, text_col)),
                text_col, id_col, shingle_mode, shingle_k,
            ),
            id_col, num_hashes, keep_sh=True,
        )
        .repartition(id_col)
        .localCheckpoint(eager=False)
    )
    shingles = sig_sh.select(id_col, "sh")
    sigs = sig_sh.drop("sh")
    banded = banded_signatures(sigs, id_col, num_hashes, bands)
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    sa = shingles.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    sb = shingles.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= jaccard_threshold)
    )
