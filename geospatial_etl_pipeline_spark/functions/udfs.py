"""User-defined functions (SURVEY §2j [EXT]).

The reference has no UDFs of its own (the whole 585-line script IS one
big UDF, copy_esrigrid_to_geotiff_rename_and_clip_w_Arguments.py:225-373);
this is the [EXT] surface a general engine needs. Three tiers, fastest
first, per the engine's "UDFs are the slow path" rule:

1. Built-in expressions — everything in ``functions/`` composes
   `pyspark.sql.functions` and stays inside whole-stage codegen. Always
   prefer this tier; it needs no registration.
2. Vectorized pandas UDFs (Arrow batch transfer) — SCALAR for per-row
   math over batches, GROUPED_AGG for custom aggregates. ~10-100× faster
   than row-at-a-time Python; still pays Arrow (de)serialization, so hot
   paths should stay in tier 1.
3. Row-at-a-time Python UDFs — only for logic that genuinely needs
   per-row Python objects. None ship in this engine.

Determinism note: ``qwavg_pandas`` mirrors plans/_util.qsum — values are
floor-quantized to int64 INSIDE the UDF so the numpy integer sum is
exact and order-free, making even the Python-side aggregate
oracle-comparable bit-for-bit (see q64_pandas_udaf_wavg).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf

_S = float(10**12)


@pandas_udf("double")
def qwavg_pandas(v: pd.Series, w: pd.Series) -> float:  # -> float = GROUPED_AGG
    """GROUPED_AGG pandas UDAF: weighted average with floor-quantized
    integer accumulation — sum(floor(v*1e12)*w) / sum(w) / 1e12.

    Integer sums are associative, so the result is identical for ANY
    aggregation order and bit-identical to the SQL spec
    ``(SUM(CAST(FLOOR(v*1e12) AS BIGINT)*w) // SUM(w)) / 1e12`` (a
    truncating integer quotient — see the in-body note) over the
    non-NULL pairs.

    NULL contract (standard SQL aggregate semantics, pinned by the
    hostile-input sweep): a pair is skipped when the value is NULL or
    NON-FINITE (NaN/±Inf) or the weight is NULL, and a group with no
    usable pairs aggregates to NULL — without the mask, a single NULL
    rode ``to_numpy`` as NaN, ``astype(int64)`` wrapped it to
    INT64_MIN, and the whole group's average silently collapsed to ~0
    (NaN poisoning, the classic Arrow kernel failure mode). The
    finite check matters because Arrow erases the NULL-vs-NaN
    distinction on the way into pandas: a true NaN VALUE must behave
    like the NULL it is indistinguishable from, and the q64 oracle
    states the same ``isfinite`` predicate — on BOTH columns, because
    an Inf WEIGHT would equally wrap through astype(int64).

    Quantization bound: |value| must stay under 9.0e6 or
    floor(v·1e12) overflows int64 — past it Spark's astype wraps while
    DuckDB's CAST errors, so the pair is excluded by contract in both
    engines (the q63/q197-style scale dial: drop the 1e12 scale to
    admit larger values).  The ACCUMULATION, by contrast, has no bound:
    products and the group total are summed in arbitrary-precision
    Python ints (r9 — the previous numpy int64 sum wrapped past ~18k
    mean-magnitude rows per group, i.e. above sf0.1, while the oracle's
    SUM(BIGINT) promotes to HUGEINT), mirroring DuckDB exactly."""
    import numpy as np

    mask = (
        v.notna() & w.notna()
        & np.isfinite(v.fillna(0.0)) & np.isfinite(w.fillna(0.0))
        & (v.fillna(0.0).abs() < 9.0e6)
    )
    if not mask.any():
        return None
    qv = np.floor(v[mask].to_numpy(dtype="float64") * _S).astype("int64")
    wi = w[mask].to_numpy(dtype="float64").astype("int64")
    ws = int(wi.sum())
    if ws == 0:
        return None
    # Accumulate in arbitrary-precision Python ints (r9): the per-row
    # product already reaches ~5e14 at mean event magnitudes, so a
    # group's int64 sum wraps past ~18k rows/group-partial — silently,
    # while the oracle's HUGEINT SUM(BIGINT) stays exact. math.fsum-
    # style float tricks would lose the bit-exactness contract; the
    # Python-int sum is exact at any corpus size and this is already
    # the Python path.
    total = sum((int(a) * int(b) for a, b in zip(qv.tolist(), wi.tolist())), 0)
    # The wire double derives from the TRUNCATING integer quotient, not
    # from float(total)/float(ws): the r9 sf1 scale run caught DuckDB's
    # CAST(HUGEINT AS DOUBLE) rounding a >2^53 total 1 ulp differently
    # from Python's correctly-rounded float(int) (DuckDB converts
    # upper/lower words separately — the q166 engine-version class,
    # latent at EVERY sf since totals pass 2^53 already at sf0.01).
    # total // ws is bounded by max|quantized value| < 9.0e6 * 1e12
    # < 2^63, so BOTH engines make ONE correctly-rounded int64->double
    # conversion of the same integer (oracle mirrors with
    # CAST(CAST(SUM(..) // SUM(..) AS BIGINT) AS DOUBLE)); the value is
    # the weighted mean truncated at the 1e-12 lattice.  DuckDB's //
    # TRUNCATES toward zero while Python's floors, so the quotient is
    # formed sign-aware on BOTH operands (r10: negative totals AND
    # negative weight sums are legal — a negative user_id makes
    # 1 + user_id % 10 negative in both engines, so assuming ws > 0
    # left a floor-vs-trunc 1e-12-lattice divergence on mixed signs).
    sign = -1 if (total < 0) != (ws < 0) else 1
    q = sign * (abs(total) // abs(ws))
    return float(q) / _S
