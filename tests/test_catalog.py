"""Catalog registry consistency checks (no Spark session needed)."""

from __future__ import annotations

from geospatial_etl_pipeline_spark.plans import catalog

catalog.load_all_plans()


def test_oracle_twins_resolve():
    for name, spec in catalog.QUERIES.items():
        if spec.oracle_twin is not None:
            assert spec.oracle is None, f"{name}: twin only for rows-only entries"
            twin = catalog.QUERIES.get(spec.oracle_twin)
            assert twin is not None, f"{name}: unknown twin {spec.oracle_twin}"
            assert twin.oracle is not None, f"{name}: twin has no oracle"


def test_no_oracle_set_is_documented():
    """Every rows-only entry is either inherently un-SQL-able (q29
    sketches, q74 file-based raster pipeline) or twinned to a hash-checked
    companion. New no-oracle entries must join one of those lists."""
    inherent = {
        "q29_sketch_aggregates",   # engine-specific sketches — but bounded:
                                   # in-plan *_within_bound columns vs exact
                                   # twins, asserted two scales below
        "q74_ref_pipeline_e2e",    # file-based raster pipeline
        "q114_kmeans_clusters",    # iterative float algorithm (invariants
                                   # + determinism asserted in test_operators)
    }
    for name, spec in catalog.QUERIES.items():
        if spec.oracle is None:
            assert name in inherent or spec.oracle_twin, name


def test_bench_headline_queries_exist():
    """bench.py's HEADLINE list must reference live catalog entries — a
    query rename that breaks the driver's bench run should fail HERE,
    not in the round artifact."""
    import bench

    missing = [
        n for n in bench.HEADLINE + bench.HEAVY + bench.EXTRA
        if n not in catalog.QUERIES
    ]
    assert not missing, missing
    overlap = set(bench.HEADLINE) & set(bench.HEAVY) | set(
        bench.HEADLINE
    ) & set(bench.EXTRA) | set(bench.HEAVY) & set(bench.EXTRA)
    assert not overlap, overlap  # each query is timed in exactly one bucket


def test_no_duplicate_output_columns():
    """The driver's compare sorts columns by name; duplicate names make
    the hash ambiguous. Cheap static check: oracle SQL must not alias
    two columns identically (heuristic: DuckDB DESCRIBE would fail —
    here we just ensure each oracle's top-level SELECT aliases parse).
    Full value-level checking lives in test_oracle_parity."""
    import duckdb

    con = duckdb.connect()
    for name in ("region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('/root/testdata/sf0.001/{name}.parquet')"
        )
    for name, spec in sorted(catalog.QUERIES.items()):
        if spec.oracle is None:
            continue
        cur = con.execute(f"DESCRIBE {spec.oracle}")
        cols = [r[0] for r in cur.fetchall()]
        assert len(cols) == len(set(cols)), (name, cols)
    con.close()


def test_q29_sketches_within_published_error(spark):
    """q29 has no SQL oracle (sketch bits are engine-specific), but it
    is falsifiable: the plan carries exact twins and bound booleans.
    Every *_within_bound column must be TRUE — at two scales, so a
    sketch regression can't hide behind one lucky dataset."""
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        rows = catalog.QUERIES["q29_sketch_aggregates"].fn(spark, sf).collect()
        assert rows, sf
        for r in rows:
            assert r["hll_within_bound"], (sf, r)
            assert r["p50_within_bound"], (sf, r)
            assert r["p99_within_bound"], (sf, r)


def test_q201_hll_rolling_dau_within_published_error(spark):
    """q201 (q151's mergeable-sketch scale form) is falsifiable the
    same way as q29: the plan carries the exact range-join twin and a
    per-day within_bound boolean against 3σ of the DataSketches HLL
    published error. Every day must bound-check at two scales, and the
    sketch must track the exact series (equal-length join output)."""
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        q201 = catalog.QUERIES["q201_rolling_weekly_actives_sketch"]
        rows = q201.fn(spark, sf).collect()
        assert rows, sf
        exact = catalog.QUERIES["q151_rolling_weekly_actives"].fn(
            spark, sf
        ).collect()
        assert len(rows) == len(exact), sf  # one output row per day
        for r in rows:
            assert r["within_bound"], (sf, r)
            assert r["wau_sketch"] > 0, (sf, r)


def test_q161_zorder_cells_are_local(spark):
    """The whole point of the Z-order census: every coarse cell (top 8
    code bits = 3 bits dropped per axis) must contain points from at
    most an 8x8-unit square. If the bit interleave drifts, extents
    blow past 7 and this fails before parity ever could (parity would
    happily confirm a WRONG-but-consistent encoding)."""
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        rows = catalog.QUERIES["q161_zorder_cells"].fn(spark, sf).collect()
        assert rows, sf
        for r in rows:
            assert r["x_max"] - r["x_min"] <= 7, (sf, r)
            assert r["y_max"] - r["y_min"] <= 7, (sf, r)
            assert r["z_max"] - r["z_min"] <= 63, (sf, r)


def test_q162_pair_work_matches_q42_candidates(spark):
    """Cross-operator consistency: the band-skew audit's total
    pair_work is the number of (possibly duplicate-across-bands)
    candidate comparisons the LSH join performs — it must be >= the
    number of DISTINCT candidate pairs the actual q42 pipeline
    produces before the Jaccard gate."""
    from geospatial_etl_pipeline_spark.operators.dedup import (
        lsh_candidate_pairs,
    )
    from geospatial_etl_pipeline_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    audit = catalog.QUERIES["q162_lsh_band_skew"].fn(spark, sf).collect()
    total_work = sum(r["pair_work"] for r in audit)
    n_cand = lsh_candidate_pairs(load_table(spark, sf, "documents")).count()
    assert total_work >= n_cand > 0, (total_work, n_cand)


def test_q172_bootstrap_ci_brackets_the_mean(spark):
    """The Poisson-bootstrap CI must be ordered and bracket the true
    full-sample mean at both scales (a broken weight ladder or bucket
    parse shifts the replicate means off the data and this catches it
    independently of oracle parity)."""
    from pyspark.sql import functions as F

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        row = catalog.QUERIES["q172_bootstrap_ci"].fn(spark, sf).collect()[0]
        # r8: CI endpoints are FLOOR(·1e6)-quantized rank statistics
        p025 = row["boot_p025_q"] / 1e6
        p50 = row["boot_p50_q"] / 1e6
        p975 = row["boot_p975_q"] / 1e6
        eps = 1e-6  # one quantization step
        assert row["boot_min"] - eps <= p025 <= p50, (sf, row)
        assert p50 <= p975 <= row["boot_max"] + eps, (sf, row)
        full_mean = (
            spark.read.parquet(f"{sf}/orders.parquet")
            .agg(F.avg("o_totalprice"))
            .collect()[0][0]
        )
        assert p025 - eps <= full_mean <= p975 + eps, (sf, row, full_mean)


def test_morton_encode_matches_python_reference():
    """The shared SQL Morton expression (q161) must equal a bit-twiddling
    Python reference for every cell of the full coordinate domain —
    evaluated through DuckDB so the test exercises the exact SQL string
    the oracle runs (Spark parses the same string; parity ties the two)."""
    import duckdb

    from geospatial_etl_pipeline_spark.plans.geometry import _morton_sql

    def ref(x: int, y: int) -> int:
        z = 0
        for i in range(7):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT x, y, {_morton_sql('x', 'y')} AS z "
        "FROM range(0, 128) t1(x), range(0, 128) t2(y)"
    ).fetchall()
    assert len(rows) == 128 * 128
    for x, y, z in rows:
        assert z == ref(x, y), (x, y, z, ref(x, y))


def test_q169_growth_identity(spark):
    """new + retained + resurrected must equal active in EVERY week —
    the accounting identity the query exists to enforce."""
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        rows = catalog.QUERIES["q169_growth_accounting"].fn(spark, sf).collect()
        assert rows, sf
        for r in rows:
            assert (
                r["n_new"] + r["n_retained"] + r["n_resurrected"]
                == r["n_active"]
            ), (sf, r)


def test_q158_equidepth_populations(spark):
    """Bucket populations must sum to the table row count and no bucket
    may be empty (16 buckets over 1500+ distinct-ish totals)."""
    rows = (
        catalog.QUERIES["q158_equidepth_histogram"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    )
    n = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").count()
    assert sum(r["n_orders"] for r in rows) == n
    assert len(rows) == 16
    assert min(r["n_orders"] for r in rows) > 0


def test_q180_quantization_error_within_floor_bound(spark):
    """Floor quantization guarantees every element error < 1/127; if
    the QA query and the export (q128) ever disagree about the
    quantizer, the bound breaks before parity does."""
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        rows = catalog.QUERIES["q180_quantization_error"].fn(spark, sf).collect()
        assert rows, sf
        for r in rows:
            assert 0.0 <= r["mean_abs_err"] <= r["max_abs_err"] < 1.0 / 127.0, (sf, r)


def test_catalog_hygiene():
    """Every registered query carries the metadata the catalog contract
    promises: a qNN_ name, at least one tag, a docstring that says what
    and why, and (for rows-only entries) either an oracle twin or a
    documented place in the known no-oracle set."""
    import re

    known_no_oracle = {
        "q29_sketch_aggregates",
        "q54_ann_lsh_topk",
        "q74_ref_pipeline_e2e",
        "q114_kmeans_clusters",
        "q201_rolling_weekly_actives_sketch",  # HLL sketch bits are
        # engine-specific; exact-twinned to q151 + in-plan within_bound
        # asserted at two scales below
        "q256_media_ahash_near_dup",  # aHash pixel math (tile → 8×8 NN
        # downscale → mean threshold → bitpack) is not SQL-expressible;
        # dataflow hash-twinned to q257 (same phash_near_dup_pairs
        # operator over q44's oracled SimHash), kernel pixel-pinned in
        # test_operators/test_codecs
    }
    for name, spec in catalog.QUERIES.items():
        assert re.match(r"^q\d+_[a-z0-9_]+$", name), name
        assert spec.tags, name
        assert spec.doc and len(spec.doc.strip()) > 40, name
        if spec.oracle is None:
            assert name in known_no_oracle, (
                f"{name} has no oracle and is not in the documented "
                "no-oracle set — add SQL or document why"
            )


def test_bootstrap_poisson_ladder():
    """The precomputed Poisson(1) thresholds must be strictly
    increasing, match exp(-1)/k! cumulative mass, and leave < 2e-7 in
    the ELSE rung (P[k > 8] ≈ 1.1e-6) — the ladder IS the distribution."""
    import math

    from geospatial_etl_pipeline_spark.plans.sampling import _BOOT_CUTS

    assert _BOOT_CUTS == sorted(set(_BOOT_CUTS))
    cum = 0.0
    for k, cut in enumerate(_BOOT_CUTS):
        cum += math.exp(-1.0) / math.factorial(k)
        assert abs(cut / 2**32 - cum) < 1e-9, (k, cut, cum)
    assert 1.0 - _BOOT_CUTS[-1] / 2**32 < 2e-6


def test_q189_pruning_identities(spark):
    """A pruned scan can never read fewer points than it matches, and
    the rectangle's matches must all live in touched cells."""
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        r = catalog.QUERIES["q189_zorder_pruning_report"].fn(spark, sf).collect()[0]
        assert 0 < r["n_cells_touched"] <= r["n_cells_total"], (sf, r)
        assert r["n_points_matched"] <= r["n_points_scanned"] <= r["n_points_total"], (sf, r)
        assert r["scan_amplification"] >= 1.0, (sf, r)


def test_q190_out_of_order_identities(spark):
    """Disorder counts are bounded by event counts; the backward-skew
    bound is negative exactly when disorder exists."""
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        rows = catalog.QUERIES["q190_out_of_order_audit"].fn(spark, sf).collect()
        assert rows, sf
        for r in rows:
            assert 0 <= r["n_out_of_order"] <= r["n_events"], (sf, r)
            assert 0.0 <= r["ooo_rate"] <= 1.0, (sf, r)
            if r["n_out_of_order"] > 0:
                assert r["max_backward_us"] < 0, (sf, r)


def test_q195_credits_sum_to_purchases(spark):
    """Linear attribution conserves conversions: total credited mass
    equals the number of purchases with >=1 touch (up to the 1e-12
    quantization per touch)."""
    from pyspark.sql import functions as F

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        rows = catalog.QUERIES["q195_linear_attribution"].fn(spark, sf).collect()
        credited = sum(r["credited_conversions"] for r in rows)
        n_touches = sum(r["n_touches"] for r in rows)
        from geospatial_etl_pipeline_spark.sources.tables import load_table

        e = load_table(spark, sf, "events")
        # independent count of attributed purchases via the same predicate
        p = e.filter("event_type = 'purchase'").select(
            F.col("event_id").alias("pid"), "user_id", F.col("ts").alias("pts")
        )
        c = e.filter("event_type = 'click'").select("user_id", F.col("ts").alias("cts"))
        attributed = (
            p.join(c, "user_id")
            .filter(
                (F.col("cts") <= F.col("pts"))
                & (F.unix_micros("cts") > F.unix_micros("pts") - 7 * 86_400_000_000)
            )
            .select("pid")
            .distinct()
            .count()
        )
        assert abs(credited - attributed) < n_touches * 1e-11, (
            sf, credited, attributed)


def test_q266_ks_drift_bounds(spark):
    """KS is a [0,1] statistic: every ks_q must sit inside the lattice,
    and the per-source doc counts must partition the corpus."""
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        rows = catalog.QUERIES["q266_source_quality_drift"].fn(spark, sf).collect()
        assert rows, sf
        n = (
            spark.read.parquet(f"{sf}/documents.parquet")
            .filter("text IS NOT NULL")
            .count()
        )
        assert sum(r["n_docs"] for r in rows) == n
        for r in rows:
            # ks_q is NULL for a single-source corpus (n > n_s never holds)
            if r["ks_q"] is not None:
                assert 0 <= r["ks_q"] <= 1_000_000, (sf, r)


def test_q267_trimmed_stats_invariants(spark):
    """Trim accounting: n_kept = n - 2*floor(5n/100); the winsorized
    sum brackets between n*v_lo and n*v_hi; cut values are ordered."""
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        rows = catalog.QUERIES["q267_trimmed_price_stats"].fn(spark, sf).collect()
        assert rows, sf
        for r in rows:
            lo = (5 * r["n_orders"]) // 100
            assert r["n_kept"] == r["n_orders"] - 2 * lo, (sf, r)
            # v_lo_c/v_hi_c are NULL for an all-NULL-price priority group;
            # degrade to a clean assert instead of a None-comparison crash
            if r["v_lo_c"] is None or r["v_hi_c"] is None:
                assert r["v_lo_c"] is None and r["v_hi_c"] is None, (sf, r)
                continue
            assert r["v_lo_c"] <= r["v_hi_c"], (sf, r)
            assert (
                r["n_orders"] * r["v_lo_c"]
                <= r["winsor_sum_c"]
                <= r["n_orders"] * r["v_hi_c"]
            ), (sf, r)
            assert r["trimmed_sum_c"] <= r["winsor_sum_c"], (sf, r)


def test_q268_gini_bounds_and_known_case(spark):
    """Gini ∈ [0, 1) for real groups; and the exact formula on a tiny
    hand corpus: x = [1, 1, 2] ascending has ranks 1..3,
    G = (2*(1*1+1*2+2*3) - 4*4) / (3*4) = 2/12."""
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        rows = catalog.QUERIES["q268_token_count_gini"].fn(spark, sf).collect()
        assert rows, sf
        for r in rows:
            if r["gini"] is not None:
                assert 0.0 <= r["gini"] < 1.0, (sf, r)
    import duckdb as _duck

    con = _duck.connect()
    got = con.execute(
        """
        WITH tc AS (
          SELECT 'xx' AS lang, unnest([1, 1, 2]) AS x
        ),
        hist AS (
          SELECT lang, x, COUNT(*) AS cnt,
                 COALESCE(SUM(COUNT(*)) OVER (PARTITION BY lang ORDER BY x ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
                 COALESCE(SUM(COUNT(*)) OVER (PARTITION BY lang ORDER BY x ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   + COUNT(*) AS cum,
                 SUM(COUNT(*)) OVER (PARTITION BY lang) AS n
          FROM tc GROUP BY lang, x
        )
        SELECT CAST(SUM(x * cnt * (below + 1 + cum))
                    - (MAX(n) + 1) * SUM(x * cnt) AS DOUBLE)
               / CAST(MAX(n) * SUM(x * cnt) AS DOUBLE)
        FROM hist
        """
    ).fetchone()[0]
    con.close()
    assert abs(got - 2.0 / 12.0) < 1e-12


def test_q269_q270_graph_structure_invariants(spark):
    """Triangle census: 3·triangles ≤ wedges (each triangle closes
    exactly three), closure on the [0, 1e6] lattice; assortativity is
    a correlation, |r| ≤ 1."""
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        t9 = catalog.QUERIES["q269_dup_graph_triangles"].fn(spark, sf).collect()[0]
        # an edgeless graph yields NULL triangle/wedge counts
        if t9["n_triangles"] is not None and t9["n_wedges"] is not None:
            assert 3 * t9["n_triangles"] <= max(t9["n_wedges"], 1), (sf, t9)
        if t9["closure_q"] is not None:
            assert 0 <= t9["closure_q"] <= 1_000_000, (sf, t9)
        a0 = catalog.QUERIES["q270_dup_graph_assortativity"].fn(spark, sf).collect()[0]
        assert a0["n_directed_edges"] == 2 * t9["n_edges"], (sf, a0, t9)
        if a0["assortativity"] is not None:
            assert -1.0 - 1e-9 <= a0["assortativity"] <= 1.0 + 1e-9, (sf, a0)
