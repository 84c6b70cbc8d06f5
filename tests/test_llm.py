"""Invariants for the rows-only LLM-pipeline operators: the sketch
variants must agree with their exact ground-truth counterparts on the
fixture's seeded near-duplicates."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def queries():
    from iceberg_workshop_spark.registry import queries

    return queries()


def _pairs(df, a="doc_a", b="doc_b"):
    return {(r[a], r[b]) for r in df.collect()}


def test_minhash_matches_exact_ngram(spark, queries):
    """LSH candidates + exact verify must reproduce the all-pairs
    ground truth exactly (perfect recall at 8 bands × 4 rows for
    Jaccard ≈ .98 pairs; precision is exact by construction)."""
    truth = _pairs(queries["q_llm_dedup_ngram"](spark, SF_DIR))
    out = queries["q_llm_dedup_minhash"](spark, SF_DIR)
    lsh = _pairs(out)
    assert lsh == truth
    assert len(truth) > 0
    # the in-query certificate must agree: 1.0 recall and precision
    # vs the exact md5 permutation family, ok-flags true on every row
    certs = out.select(
        "recall_vs_exact", "precision_vs_exact", "recall_ok", "precision_ok"
    ).distinct().collect()
    assert len(certs) == 1 and certs[0]["recall_ok"] and certs[0]["precision_ok"]
    assert certs[0]["recall_vs_exact"] == 1.0
    assert certs[0]["precision_vs_exact"] == 1.0


def test_simhash_finds_seeded_dups(spark, queries):
    """SimHash(Hamming ≤ 7) must recover most seeded near-dup pairs
    with no background false positives. Recall is high but not total
    by design: SimHash projects Jaccard ≈ .98 pairs to Hamming 0-10,
    and a 64-bit fingerprint at radius 7 legitimately excludes the
    tail (Google's production threshold is radius 3)."""
    truth = _pairs(queries["q_llm_dedup_ngram"](spark, SF_DIR))
    out = queries["q_llm_dedup_simhash"](spark, SF_DIR)
    sim = _pairs(out)
    assert len(truth & sim) >= int(0.8 * len(truth))
    assert sim <= truth  # every reported pair is a true near-dup here
    certs = out.select("recall_ok", "precision_ok").distinct().collect()
    assert len(certs) == 1 and certs[0]["recall_ok"] and certs[0]["precision_ok"]


def test_ivf_recall_vs_brute_force(spark, queries):
    """IVF with nprobe=3 of 10 clusters must beat random-cluster
    recall (3/10) on the true top-10. The fixture's labels are only
    weakly cosine-clustered, so the honest bar is 'better than
    chance', not near-perfect — with real k-means cells recall rises
    with cluster quality, not with this plan."""
    brute = [r["vec_id"] for r in queries["q_llm_simsearch"](spark, SF_DIR).collect()]
    ivf = [r["vec_id"] for r in queries["q_llm_simsearch_ivf"](spark, SF_DIR).collect()]
    assert len(ivf) == len(brute) == 10
    assert len(set(brute) & set(ivf)) >= 4


def test_certificate_vacuous_on_dupfree_corpus(spark):
    """Zero true pairs and zero fast pairs = nothing to miss, nothing
    spurious: the certificate must read 1.0/ok, not 0.0/failed (the
    old greatest(denominator, 1) clamp reported a failed certificate
    on a duplicate-free corpus)."""
    from iceberg_workshop_spark.llm.dedup import _certify_pairs

    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    one = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")

    # no pairs at all -> certificate columns exist but zero rows out;
    # exercise the aggregate itself via a non-empty fast side too
    cert_cols = ["recall_vs_exact", "precision_vs_exact",
                 "recall_ok", "precision_ok"]
    both_empty = _certify_pairs(empty, empty, 0.9, 0.9)
    assert both_empty.count() == 0  # fast side empty -> no output rows

    fast_only = _certify_pairs(one, empty, 0.9, 0.9).collect()[0]
    assert fast_only["recall_vs_exact"] == 1.0  # nothing to miss
    assert fast_only["recall_ok"]
    assert fast_only["precision_vs_exact"] == 0.0  # 1 spurious pair
    assert not fast_only["precision_ok"]


def test_multimodal_features_shape(spark, queries):
    df = queries["q_llm_multimodal_features"](spark, SF_DIR)
    rows = df.collect()
    assert len(rows) == 500
    for r in rows[:20]:
        assert r["mime"] == "text/plain"
        assert 0.0 < r["byte_mean"] < 256.0
        assert 0 < r["byte_max"] < 256
        assert r["n_bytes"] > 0


def test_binaryfile_lists_fixture_tables(spark, queries):
    rows = queries["q_llm_binaryfile"](spark, SF_DIR).collect()
    names = {r["file_name"] for r in rows}
    assert "documents.parquet" in names and "lineitem.parquet" in names
    assert len(rows) == 10
    for r in rows:
        assert r["n_bytes"] > 0
        assert len(r["content_md5"]) == 32


def test_embed_lsh_subset_and_regime(spark, queries):
    """In-bucket scoring is exact, so every LSH-reported pair must be
    a true pair (precision 1 by construction). Recall follows the LSH
    collision math: this fixture's pairs sit at cosine ≈ .45 (θ ≈ 63°),
    where 2 bands × 4 sign bits predict ≈ 1-(1-(1-θ/π)⁴)² ≈ 0.33 —
    the test pins that regime (non-empty, not magically complete);
    high-threshold corpora (cosine ≥ .9) reach ≥ .95 recall with more
    bands, per the operator docstring."""
    exact = {(r["vec_a"], r["vec_b"]) for r in
             queries["q_llm_dedup_embed"](spark, SF_DIR).collect()}
    lsh = {(r["vec_a"], r["vec_b"]) for r in
           queries["q_llm_dedup_embed_lsh"](spark, SF_DIR).collect()}
    assert lsh <= exact
    assert len(exact) > 0
    assert len(lsh) >= 1  # deterministic: both engines compute the same set


def test_embed_lsh_band_knob_recall_sweep(spark, queries):
    """The (n_bands, band_bits) knob trades candidate-set size for
    recall: at this fixture's hard regime (cosine ≈ .45, θ ≈ 63°) the
    default 2×4 recalls ~1/3 of true pairs, while 8 narrow bands (8×2,
    per-band p ≈ .42, expected recall ≈ .99) must reach ≥ .8 measured
    against the exact tiled ground truth. Precision stays 1 at every
    setting (in-bucket scoring is exact)."""
    from iceberg_workshop_spark.llm.dedup import embed_lsh_pairs

    exact = {(r["vec_a"], r["vec_b"]) for r in
             queries["q_llm_dedup_embed"](spark, SF_DIR).collect()}
    assert exact

    default = {(r["vec_a"], r["vec_b"]) for r in
               embed_lsh_pairs(spark, SF_DIR, n_bands=2, band_bits=4).collect()}
    wide = {(r["vec_a"], r["vec_b"]) for r in
            embed_lsh_pairs(spark, SF_DIR, n_bands=8, band_bits=2).collect()}

    assert default <= exact and wide <= exact  # precision 1
    recall_default = len(default) / len(exact)
    recall_wide = len(wide) / len(exact)
    assert recall_wide >= recall_default
    assert recall_wide >= 0.8, (
        f"wide-setting recall {recall_wide:.2f} (default {recall_default:.2f}, "
        f"{len(exact)} true pairs)"
    )


def test_sq_recall_vs_brute_force(spark, queries):
    """Int8 scalar quantization distorts each coordinate by <1/254 of
    the vector's max|x|, so at 64-d the quantized top-10 should nearly
    reproduce the exact float top-10 (bar: ≥8/10), with the top-1
    identical."""
    brute = [r["vec_id"] for r in queries["q_llm_simsearch"](spark, SF_DIR).collect()]
    sq = [r["vec_id"] for r in queries["q_llm_simsearch_sq"](spark, SF_DIR).collect()]
    assert len(sq) == len(brute) == 10
    assert sq[0] == brute[0]
    assert len(set(brute) & set(sq)) >= 8


def test_simhash_exact_variant_finds_seeded_dups(spark, queries):
    """The md5-based exact-oracle SimHash must behave like the xxhash64
    one semantically: recovers most seeded near-dups, no background
    false positives (60-bit fingerprint, radius 7)."""
    truth = _pairs(queries["q_llm_dedup_ngram"](spark, SF_DIR))
    sim = _pairs(queries["q_llm_dedup_simhash_exact"](spark, SF_DIR))
    assert len(truth & sim) >= int(0.8 * len(truth))
    assert sim <= truth


def test_near_exact_oracle_variant_matches_truth(spark, queries):
    """md5-permutation MinHash (q_llm_dedup_near) reproduces the
    all-pairs ground truth exactly, like the xxhash64 variant."""
    truth = _pairs(queries["q_llm_dedup_ngram"](spark, SF_DIR))
    near = _pairs(queries["q_llm_dedup_near"](spark, SF_DIR))
    assert near == truth


def test_multimodal_resize_shape(spark, queries):
    """Resize halves the raster in both dimensions and yields a stable
    checksum (deterministic across partitionings and runs)."""
    rows = queries["q_llm_multimodal_resize"](spark, SF_DIR).collect()
    assert len(rows) > 0
    for r in rows[:20]:
        assert r["out_w"] == r["in_w"] // 2
        assert r["out_h"] == r["in_h"] // 2
        assert 0 <= r["out_checksum"] < (1 << 31)
    again = queries["q_llm_multimodal_resize"](spark, SF_DIR).collect()
    assert [r["out_checksum"] for r in rows] == [r["out_checksum"] for r in again]


def test_keep_best_whitespace_regex_dialect(spark, tmp_path):
    """Regression (round-9 ADVICE): Spark SQL unescapes '\\s+' in a
    single-quoted literal to 's+', silently collapsing runs of the
    LETTER 's' instead of whitespace in _KEEP_BEST's norm key. Craft
    docs where the two regexes disagree — 's'-runs plus differing
    internal whitespace — and assert exact DuckDB parity: under the
    buggy rendering 'press  pass' and 'press pass' land in different
    clusters on the Spark side but one cluster in the oracle."""
    import duckdb

    from iceberg_workshop_spark.llm.dedup import _KEEP_BEST
    from iceberg_workshop_spark.registry import queries
    from tests.helpers import assert_frames_match

    docs = spark.createDataFrame(
        [(1, "press  pass"), (2, "press pass"), (3, "assess\tless")],
        "doc_id int, text string",
    )
    docs.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    spark_pdf = (
        queries()["q_llm_dedup_keep_best"](spark, str(tmp_path)).toPandas()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    oracle_pdf = con.execute(
        _KEEP_BEST.format(t="", g=", 'g'", div="//", ws=r"\s+")
    ).df()
    assert_frames_match(spark_pdf, oracle_pdf, "keep_best_ws_dialect")
    # whitespace-run variants MUST merge: docs 1+2 (and their twins)
    # form one 4-copy cluster; doc 2 ('press pass', fewer padding
    # chars → higher lowercase-ppm) is the quality keeper, doc 1 drops.
    kept = set(spark_pdf["doc_id"])
    assert 1 not in kept and 2 in kept
    assert int(spark_pdf.set_index("doc_id").loc[2, "n_copies"]) == 4


def test_containment_prefix_equals_exact_under_ratio_bound(spark, queries):
    """Lossless-blocking certificate: the prefix-filtered production
    containment join must return EXACTLY the exact pass's pairs
    restricted to its declared size-ratio bound max(n)/min(n) <= 4 —
    not a recall approximation."""
    exact = queries["q_llm_dedup_containment"](spark, SF_DIR).collect()
    prefix = queries["q_llm_dedup_containment_prefix"](spark, SF_DIR).collect()
    bounded = {
        (r["doc_a"], r["doc_b"], r["n_common"])
        for r in exact
        if max(r["n_a"], r["n_b"]) <= 4 * min(r["n_a"], r["n_b"])
    }
    got = {(r["doc_a"], r["doc_b"], r["n_common"]) for r in prefix}
    assert got == bounded, (
        f"missing={bounded - got} spurious={got - bounded}"
    )
    assert len(got) > 0, "fixture should contain containment pairs"


def test_cc_min_label_deep_chain_converges(spark):
    """A 20-node chain graph (diameter 19 > the old range(10) bound)
    must fully propagate to ONE cluster labeled by the min node —
    the silent-partial-merge regression guard for _cc_min_label."""
    from iceberg_workshop_spark.llm.dedup import _cc_min_label
    from iceberg_workshop_spark.registry import invocation

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 20)], ["doc_a", "doc_b"]
    )
    with invocation(spark):
        rows = _cc_min_label(pairs).orderBy("doc_id").collect()
    assert [r["doc_id"] for r in rows] == list(range(1, 21))
    assert {r["cluster_id"] for r in rows} == {1}


def test_cc_min_label_unconverged_raises(spark, monkeypatch):
    """With the iteration cap forced below the chain diameter the loop
    must raise loudly instead of returning partially-merged labels."""
    import pytest as _pytest

    from iceberg_workshop_spark.llm.dedup import _cc_min_label
    from iceberg_workshop_spark.registry import QueryInvariantError, invocation

    monkeypatch.setenv("SPARK_GRAFT_CC_MAX_ITERS", "3")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 20)], ["doc_a", "doc_b"]
    )
    with _pytest.raises(QueryInvariantError, match="did not converge"):
        with invocation(spark):
            _cc_min_label(pairs).collect()
