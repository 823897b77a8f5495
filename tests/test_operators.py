"""Unit tests: as-of join, dedup operators, naming semantics, multimodal."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from geospatial_etl_pipeline_spark.operators.asof import asof_join
from geospatial_etl_pipeline_spark.operators.dedup import (
    exact_dedup_groups,
    lsh_candidate_pairs,
    minhash_signatures,
)


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def test_asof_join_basic(spark):
    left = spark.createDataFrame(
        [
            (1, "u1", ts("2024-01-01T10:00:00")),
            (2, "u1", ts("2024-01-01T12:00:00")),
            (3, "u2", ts("2024-01-01T09:00:00")),
        ],
        ["event_id", "user", "ts"],
    )
    right = spark.createDataFrame(
        [
            ("u1", ts("2024-01-01T09:30:00"), 100.0),
            ("u1", ts("2024-01-01T11:00:00"), 200.0),
            ("u1", ts("2024-01-01T13:00:00"), 300.0),
            ("u2", ts("2024-01-01T09:00:00"), 400.0),  # equal ts: inclusive
        ],
        ["user", "ts", "price"],
    )
    out = {
        r["event_id"]: r
        for r in asof_join(
            left, right, on=["user"], ts="ts", right_payload=["price"],
            include_right_count=True,
        ).collect()
    }
    assert out[1]["asof_price"] == 100.0 and out[1]["n_right_before"] == 1
    assert out[2]["asof_price"] == 200.0 and out[2]["n_right_before"] == 2
    # equal-timestamp right row counts (inclusive semantics)
    assert out[3]["asof_price"] == 400.0 and out[3]["n_right_before"] == 1


def test_asof_join_no_match_is_null(spark):
    left = spark.createDataFrame([(1, "u9", ts("2024-01-01T10:00:00"))],
                                 ["event_id", "user", "ts"])
    right = spark.createDataFrame(
        [("u9", ts("2024-01-02T00:00:00"), 1.0)], ["user", "ts", "price"]
    )
    row = asof_join(left, right, ["user"], "ts", ["price"]).collect()[0]
    assert row["asof_price"] is None


def test_exact_dedup_groups(spark):
    df = spark.createDataFrame(
        [
            (1, "Hello  World"),
            (2, "hello world"),  # same fingerprint (case/whitespace fold)
            (3, "goodbye"),
        ],
        ["doc_id", "text"],
    )
    rows = exact_dedup_groups(df).collect()
    by_keeper = {r["keeper_doc_id"]: r for r in rows}
    assert by_keeper[1]["n_copies"] == 2
    assert by_keeper[3]["n_copies"] == 1


def test_minhash_identical_docs_share_signature(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "completely different text with other shingles entirely")],
        ["doc_id", "text"],
    )
    sigs = {r["doc_id"]: [r[f"mh{i}"] for i in range(8)]
            for r in minhash_signatures(df).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]


def test_keep_sh_rejects_id_col_named_sh(spark):
    """keep_sh=True emits the shingle array as column 'sh', so an id
    column of that name is refused with ValueError (not an assert,
    which python -O strips)."""
    from geospatial_etl_pipeline_spark.operators.dedup import (
        _signatures_from_shingles,
    )

    sh_df = spark.createDataFrame([(["a b c"],)], "sh array<string>")
    with pytest.raises(ValueError, match="reserves the column name 'sh'"):
        _signatures_from_shingles(sh_df, "sh", 8, keep_sh=True)


def test_lsh_finds_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, base), (2, base + " xx"), (3, "unrelated words entirely here")],
        ["doc_id", "text"],
    )
    pairs = lsh_candidate_pairs(df, jaccard_threshold=0.5).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert (p["id_a"], p["id_b"]) == (1, 2) and p["jaccard"] > 0.8


def test_naming_semantics(spark):
    from geospatial_etl_pipeline_spark.functions.naming import (
        parse_base_name,
        product_name,
        region_title,
    )

    df = spark.createDataFrame(
        [("grid_02_a_b_mean_monthly7", "Wellington Region"),
         ("vcsn_00_x_y_max_annual", "Area Outside Region")],
        ["base_name", "name_ascii"],
    )
    parsed = parse_base_name(F.col("base_name"))
    rows = df.select(
        *[c.alias(n) for n, c in parsed.items()],
        region_title(F.col("name_ascii")).alias("title"),
        product_name(F.lit("Mean-Air-Temperature"), parsed["statistic"],
                     F.lit("July")).alias("product"),
    ).collect()
    r0, r1 = rows
    assert (r0["parameter_code"], r0["statistic"], r0["period_key"]) == (
        "02", "mean", "monthly7")
    assert r0["title"] == "Wellington"
    assert r0["product"] == "Mean-Air-Temperature_mean_1991-2020_July"
    assert (r1["parameter_code"], r1["statistic"], r1["period_key"]) == (
        "00", "max", "annual")
    assert r1["title"] == "Chatham Islands"


def test_multimodal_fake_decode_plumbing(spark, sf_dir):
    from geospatial_etl_pipeline_spark.operators.multimodal import (
        decode_features,
        synthesize_media,
    )
    from geospatial_etl_pipeline_spark.sources.tables import load_table

    from geospatial_etl_pipeline_spark.operators.multimodal import PillowCodec

    docs = load_table(spark, sf_dir, "documents").limit(20)
    media = synthesize_media(docs)
    if not PillowCodec.available():
        with pytest.raises(NotImplementedError):
            decode_features(media)  # no real codec -> explicit stub error
    feats = decode_features(media, dims=8, allow_fake=True)
    rows = feats.collect()
    assert len(rows) == 20
    assert all(len(r["features"]) == 8 for r in rows)
    assert all(0.0 <= v < 1.0 for r in rows for v in r["features"])
    # determinism: same blob -> same hash/features
    again = {r["media_id"]: r["content_hash"]
             for r in decode_features(media, dims=8, allow_fake=True).collect()}
    assert all(again[r["media_id"]] == r["content_hash"] for r in rows)


def test_multimodal_resize_real_math(spark, sf_dir):
    """resize: the nearest-neighbor math is real — pixels match the
    numpy reference; only the byte<->pixel codec is fake."""
    import numpy as np

    from geospatial_etl_pipeline_spark.operators.multimodal import (
        fake_decode_image,
        fake_encode_image,
        resize,
    )
    from geospatial_etl_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(3)
    # build FIMG media with known pixels
    import pandas as pd

    rows = []
    for i, _ in enumerate(docs.collect()):
        arr = ((np.arange(12)[:, None] * 7 + np.arange(16)[None, :] + i) % 256
               ).astype(np.uint8)
        rows.append((i, "image", bytearray(fake_encode_image(arr)),
                     ("image/x-fake", 16, 12, None)))
    media = spark.createDataFrame(
        rows,
        "media_id long, kind string, blob binary, "
        "meta struct<mime:string,width:int,height:int,duration_ms:int>",
    )
    from geospatial_etl_pipeline_spark.operators.multimodal import PillowCodec

    if not PillowCodec.available():
        with pytest.raises(NotImplementedError):
            resize(media, 8, 6)  # codec boundary stays honest
    out = {r["media_id"]: r for r in
           resize(media, 8, 6, allow_fake=True).collect()}
    assert len(out) == 3
    for i in out:
        src = ((np.arange(12)[:, None] * 7 + np.arange(16)[None, :] + i) % 256
               ).astype(np.uint8)
        got = fake_decode_image(bytes(out[i]["blob"]))
        assert got.shape == (6, 8)
        rowsel = np.minimum(((np.arange(6) + 0.5) * 12 / 6).astype(int), 11)
        colsel = np.minimum(((np.arange(8) + 0.5) * 16 / 8).astype(int), 15)
        assert np.array_equal(got, src[np.ix_(rowsel, colsel)])
        assert out[i]["meta"]["width"] == 8 and out[i]["meta"]["height"] == 6


def test_multimodal_frame_sample(spark, sf_dir):
    """frame_sample: per-row fan-out to frame rows with correct
    timestamp/index arithmetic and decodable frame blobs."""
    import numpy as np

    from geospatial_etl_pipeline_spark.operators.multimodal import (
        fake_decode_image,
        frame_sample,
        synthesize_videos,
    )
    from geospatial_etl_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(2)
    vids = synthesize_videos(docs, n_frames=12, frame_ms=100)
    with pytest.raises(NotImplementedError):
        frame_sample(vids, 250)
    frames = frame_sample(vids, 250, allow_fake=True).collect()
    by_media = {}
    for r in frames:
        by_media.setdefault(r["media_id"], []).append(r)
    assert len(by_media) == 2
    for mid, rows in by_media.items():
        rows.sort(key=lambda r: r["ts_ms"])
        # duration 1200ms, every 250ms -> ts 0,250,500,750,1000 (5 frames)
        assert [r["ts_ms"] for r in rows] == [0, 250, 500, 750, 1000]
        assert [r["frame_idx"] for r in rows] == [0, 2, 5, 7, 10]
        # frame pixels match the synthesis function for that frame index
        for r in rows:
            got = fake_decode_image(bytes(r["blob"]))
            k = r["frame_idx"]
            want = ((mid * 7 + k * 5
                     + np.arange(6)[:, None] * 3 + np.arange(8)[None, :])
                    % 251).astype(np.uint8)
            assert np.array_equal(got, want)


def test_connected_components_random_graphs(spark):
    """Min-label CC vs a Python union-find on random edge sets,
    including isolated nodes and a long chain."""
    import random

    from geospatial_etl_pipeline_spark.operators.graph import (
        connected_components,
    )

    rng = random.Random(7)
    for trial in range(3):
        n = 40
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(25)]
        edges += [(i, i + 1) for i in range(30, 36)]  # chain
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {x: find(x) for x in range(n)}
        # canonicalize: min member per root
        roots = {}
        for x, r in want.items():
            roots.setdefault(r, []).append(x)
        want = {x: min(roots[r]) for x, r in want.items()}

        e_df = spark.createDataFrame(edges, ["src", "dst"])
        n_df = spark.createDataFrame([(i,) for i in range(n)], ["node"])
        got = {
            r["node"]: r["component"]
            for r in connected_components(e_df, n_df).collect()
        }
        assert got == want, f"trial {trial}"


def test_connected_components_raises_when_not_converged(spark):
    """A 60-node chain has diameter 59: min-label needs 59 rounds, so a
    12-round cap fails loudly instead of returning partial labels."""
    import pytest as _pytest

    from geospatial_etl_pipeline_spark.operators.graph import (
        connected_components,
    )

    n = 60
    e_df = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["src", "dst"]
    )
    n_df = spark.createDataFrame([(i,) for i in range(n)], ["node"])
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(e_df, n_df, max_rounds=12)


def test_spatial_bin_join_equals_quadratic(spark):
    """Binned join == quadratic containment, including rects landing
    exactly on cell boundaries and points at rect edges (half-open)."""
    import random

    from geospatial_etl_pipeline_spark.operators.spatial import (
        bin_join_points_in_rects,
    )

    rng = random.Random(11)
    pts = [(i, rng.uniform(-5, 105), rng.uniform(-5, 105)) for i in range(300)]
    # boundary-heavy rects: aligned to cell=16 edges, negatives, thin
    rects = [
        ("a", 0.0, 0.0, 16.0, 16.0),
        ("b", 16.0, 16.0, 48.0, 32.0),
        ("c", -10.0, -10.0, 3.0, 90.0),
        ("d", 31.9, 15.9, 32.1, 16.1),
        ("e", 80.0, 80.0, 80.0, 90.0),  # zero-width: empty by half-open
    ]
    p_df = spark.createDataFrame(pts, ["pid", "x", "y"])
    r_df = spark.createDataFrame(rects, ["rid", "xmin", "ymin", "xmax", "ymax"])
    got = {
        (r["pid"], r["rid"])
        for r in bin_join_points_in_rects(p_df, r_df, cell=16.0).collect()
    }
    want = {
        (pid, rid)
        for pid, x, y in pts
        for rid, x0, y0, x1, y1 in rects
        if x0 <= x < x1 and y0 <= y < y1
    }
    assert got == want and len(want) > 0


def test_kmeans_inertia_monotone_and_deterministic(spark, sf_dir):
    """Lloyd's defining invariant: inertia never increases across
    iterations; and the whole trajectory is reproducible run-to-run
    (md5 init, exact argmin, decimal means)."""
    from geospatial_etl_pipeline_spark.operators.clustering import kmeans
    from geospatial_etl_pipeline_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    a1, c1, i1 = kmeans(e, k=4, iters=3)
    assert all(i1[j + 1] <= i1[j] + 1e-9 for j in range(len(i1) - 1)), i1
    a2, c2, i2 = kmeans(e, k=4, iters=3)
    assert i1 == i2
    assert c1 == c2
    s1 = sorted((r["vec_id"], r["cluster"]) for r in a1.collect())
    s2 = sorted((r["vec_id"], r["cluster"]) for r in a2.collect())
    assert s1 == s2


def test_kmeans_assignment_is_true_argmin(spark, sf_dir):
    """Spot-check the in-row argmin against numpy on a sample."""
    import numpy as np

    from geospatial_etl_pipeline_spark.operators.clustering import (
        assign_clusters,
        init_centroids,
    )
    from geospatial_etl_pipeline_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    cents = init_centroids(e, 4)
    got = assign_clusters(e, cents).limit(50).collect()
    C = np.array(cents)
    for r in got:
        v = np.array(r["_v"])
        d2 = ((C - v) ** 2).sum(axis=1)
        assert r["cluster"] == int(d2.argmin())
        assert abs(r["dist2"] - d2.min()) < 1e-9 * max(1.0, d2.min())


def test_kmeans_rejects_nan_vectors(spark):
    """A NaN component poisons every distance, the assign fold keeps its
    -1 seed, and (pre-guard) out[-1] silently corrupted the LAST
    centroid. recompute_centroids must refuse instead."""
    import pytest as _pytest

    from geospatial_etl_pipeline_spark.operators.clustering import (
        assign_clusters,
        recompute_centroids,
    )

    df = spark.createDataFrame(
        [(1, [float("nan"), 1.0]), (2, [0.5, 0.5])],
        "vec_id long, embedding array<double>",
    )
    cents = [[0.0, 0.0], [1.0, 1.0]]
    assigned = assign_clusters(df, cents)
    with _pytest.raises(ValueError, match="non-finite"):
        recompute_centroids(assigned, cents)


def test_count_min_never_underestimates(spark):
    """CM guarantee: est >= true count for EVERY probed key (collisions
    only inflate counters). A single underestimate means the sketch
    build and probe disagree on a hash — the failure mode the oracle
    can't see if both sides made the same mistake."""
    from geospatial_etl_pipeline_spark.plans import catalog

    catalog.load_all_plans()
    df = catalog.QUERIES["q132_count_min_heavy_hitters"].fn(
        spark, "/root/testdata/sf0.001"
    )
    bad = df.filter(F.col("cm_estimate") < F.col("true_cnt")).count()
    assert bad == 0


def test_bloom_has_no_false_negatives(spark):
    """Every exact duplicate MUST be a bloom hit — a false negative
    means the pre-filter would drop real duplicate work at 100 TB."""
    from geospatial_etl_pipeline_spark.plans import catalog

    catalog.load_all_plans()
    df = catalog.QUERIES["q133_bloom_prefilter_audit"].fn(
        spark, "/root/testdata/sf0.001"
    )
    fn = df.filter((F.col("exact_dup") == 1) & (F.col("bloom_hit") == 0)).count()
    assert fn == 0


def test_pagerank_mass_is_conserved_within_bounds(spark):
    """One damped iteration from uniform start: total mass must lie in
    [teleport-only 0.15, full 1.0] — above 1.0 means double-counted
    contributions, below 0.15 means the teleport term is broken.
    (Dangling/isolated docs leak their damped share by documented
    design, so the sum is < 1.0 whenever any doc is isolated.)"""
    from geospatial_etl_pipeline_spark.plans import catalog

    catalog.load_all_plans()
    df = catalog.QUERIES["q125_pagerank_dup_graph"].fn(
        spark, "/root/testdata/sf0.001"
    )
    total = df.agg(F.sum("pagerank")).first()[0]
    assert 0.15 - 1e-9 <= total <= 1.0 + 1e-9, total


def test_covariance_diagonal_is_nonnegative(spark):
    """Var(x_i) >= 0 up to quantization slack — a negative diagonal
    cell means the E[x²]−E[x]² combination mixed up its moments."""
    from geospatial_etl_pipeline_spark.plans import catalog

    catalog.load_all_plans()
    df = catalog.QUERIES["q135_embedding_covariance"].fn(
        spark, "/root/testdata/sf0.001"
    )
    bad = df.filter(
        (F.col("dim_i") == F.col("dim_j")) & (F.col("cov") < -1e-9)
    ).count()
    assert bad == 0


def test_bloom_fp_rate_matches_occupancy(spark):
    """The measured false-positive rate must be consistent with the
    bit-array occupancy: fp ≈ occupancy^k. Assert it stays below
    3x the occupancy-predicted rate (+1 absolute hit of slack for
    small incoming batches) — a blowout means the probe hashes
    disagree with the build hashes."""
    from geospatial_etl_pipeline_spark.plans import catalog
    from geospatial_etl_pipeline_spark.plans.extra import _BLOOM_K, _BLOOM_M

    catalog.load_all_plans()
    df = catalog.QUERIES["q133_bloom_prefilter_audit"].fn(
        spark, "/root/testdata/sf0.001"
    ).cache()
    n_inc = df.count()
    fp = df.filter((F.col("bloom_hit") == 1) & (F.col("exact_dup") == 0)).count()
    # occupancy from the same build the query ran
    from pyspark.sql import functions as FF

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fpcol = FF.md5(FF.lower(FF.trim(FF.col("text"))))
    hist = d.filter(FF.col("doc_id") % 2 == 0).select(fpcol.alias("fp")).distinct()
    bits = hist.select(
        FF.explode(
            FF.array(
                *[
                    (
                        FF.conv(
                            FF.substring(
                                FF.md5(FF.concat(FF.lit(f"bloom:{j}:"), FF.col("fp"))),
                                1,
                                8,
                            ),
                            16,
                            10,
                        ).cast("bigint")
                        % _BLOOM_M
                    )
                    for j in range(_BLOOM_K)
                ]
            )
        ).alias("b")
    ).distinct().count()
    occupancy = bits / _BLOOM_M
    expected_fp = occupancy ** _BLOOM_K
    df.unpersist()
    assert fp <= 3 * expected_fp * n_inc + 1, (fp, n_inc, occupancy)


def test_ahash64_deterministic_and_locality(spark):
    """aHash is stable for identical pixels and near-stable for small
    perturbations: flipping a handful of pixels in a structured image
    moves only a few of the 64 bits (the property that makes it a
    perceptual signature rather than a cryptographic one)."""
    import numpy as np

    from geospatial_etl_pipeline_spark.operators.multimodal import (
        ahash64,
        fake_encode_image,
    )

    rng = np.random.default_rng(7)
    base = (rng.integers(0, 2, (64, 64)) * 255).astype("uint8")
    tweaked = base.copy()
    tweaked[:2, :2] ^= 255  # perturb one 8x8 downscale cell's corner
    rows = [
        (1, "image", bytearray(fake_encode_image(base)),
         {"mime": "x", "width": 64, "height": 64, "duration_ms": None}),
        (2, "image", bytearray(fake_encode_image(base)),
         {"mime": "x", "width": 64, "height": 64, "duration_ms": None}),
        (3, "image", bytearray(fake_encode_image(tweaked)),
         {"mime": "x", "width": 64, "height": 64, "duration_ms": None}),
    ]
    schema = (
        "media_id long, kind string, blob binary, "
        "meta struct<mime:string,width:int,height:int,duration_ms:int>"
    )
    media = spark.createDataFrame(rows, schema)
    got = {r["media_id"]: r["ahash"] for r in ahash64(media, allow_fake=True).collect()}
    assert got[1] == got[2]
    ham = bin((got[1] ^ got[3]) & ((1 << 64) - 1)).count("1")
    assert 0 <= ham <= 4, ham


def test_phash_banded_join_matches_bruteforce(spark):
    """Pigeonhole recall: the banded Hamming join must find EXACTLY the
    pairs brute force finds at max_hamming <= bands-1."""
    import itertools

    from geospatial_etl_pipeline_spark.operators.multimodal import (
        phash_near_dup_pairs,
    )

    sigs = [
        (1, 0b0),
        (2, 0b1),                      # ham(1,2)=1
        (3, (1 << 17) | (1 << 40)),    # ham(1,3)=2
        # ham(1,4)=4; (1<<63) wrapped to signed two's complement for LONG
        (4, ((1 << 1) | (1 << 20) | (1 << 40) | (1 << 63)) - (1 << 64)),
        (5, -1),                       # all ones
    ]
    df = spark.createDataFrame(
        [(i, "image", h) for i, h in sigs], "media_id long, kind string, ahash long"
    )
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in phash_near_dup_pairs(df, max_hamming=3).collect()
    }
    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")
    want = {
        (a, b, ham(ha, hb))
        for (a, ha), (b, hb) in itertools.combinations(sigs, 2)
        if ham(ha, hb) <= 3
    }
    assert got == want and len(want) >= 2


def test_phash_rejects_unguaranteed_threshold(spark):
    import pytest as _pytest

    from geospatial_etl_pipeline_spark.operators.multimodal import (
        phash_near_dup_pairs,
    )

    df = spark.createDataFrame([(1, "image", 0)], "media_id long, kind string, ahash long")
    with _pytest.raises(ValueError):
        phash_near_dup_pairs(df, max_hamming=4, bands=4)


def test_phash_rejects_indivisible_sig_bits(spark):
    """sig_bits % bands != 0 would band only width*bands low bits and
    silently void the pigeonhole recall guarantee — must refuse loudly
    (r7 advice finding)."""
    import pytest as _pytest

    from geospatial_etl_pipeline_spark.operators.multimodal import (
        phash_near_dup_pairs,
    )

    df = spark.createDataFrame(
        [(1, "image", 0)], "media_id long, kind string, ahash long"
    )
    with _pytest.raises(ValueError, match="divisible"):
        phash_near_dup_pairs(df, max_hamming=3, bands=4, sig_bits=30)


def test_transitive_closure_chain_tree_and_cycle(spark):
    from geospatial_etl_pipeline_spark.operators.graph import (
        transitive_closure,
    )

    # chain 1→2→3→4: closure is all 6 ordered ancestor pairs, found in
    # log rounds (max_rounds=3 suffices for diameter 3 via doubling)
    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], ["src", "dst"]
    )
    got = {
        (r.org, r.cur)
        for r in transitive_closure(chain, max_rounds=3).collect()
    }
    assert got == {(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)}

    # tree/confluence 1→3, 2→3, 3→4: both sources reach the sink
    tree = spark.createDataFrame([(1, 3), (2, 3), (3, 4)], ["src", "dst"])
    got = {
        (r.org, r.cur) for r in transitive_closure(tree).collect()
    }
    assert got == {(1, 3), (2, 3), (3, 4), (1, 4), (2, 4)}

    # a cycle saturates to the finite fixpoint (self-pairs included),
    # it must not spin to the round cap
    cyc = spark.createDataFrame([(1, 2), (2, 1)], ["src", "dst"])
    got = {(r.org, r.cur) for r in transitive_closure(cyc).collect()}
    assert got == {(1, 2), (2, 1), (1, 1), (2, 2)}
