"""Round-7 corpus/physical additions: plan-shape gates and pure
properties that the oracle-parity sweep can't see.

- DPP: the fact scan must carry a dynamicpruning subquery (the
  in-query require() asserts it too; this pins it in CI with a
  readable failure).
- Keyword tagging / importance ratios: lexicon-sized sides must
  broadcast, never shuffle the corpus against a 5-row table.
- phash banding: pigeonhole recall (Hamming ≤ 6 over 6 bands of 10
  bits ⟹ at least one band identical) — checked as pure arithmetic
  over random fingerprints, no Spark involved.
- URL canonicalization: idempotence (canon(canon(u)) == canon(u))
  over the full variant grid — a canonical form that moves under
  re-canonicalization would break keeper selection.
"""

from __future__ import annotations

import random

from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_dpp_join_prunes_fact_partitions(spark):
    """The plan is read inside the invocation: on return the scope
    checkpoints the result and removes the fact layout it staged."""
    from iceberg_workshop_spark.registry import invocation, queries

    with invocation(spark):
        df = queries()["q_join_dpp"].__wrapped__(spark, SF_DIR)
        assert "dynamicpruning" in _plan(df)


def test_keyword_tag_broadcasts_lexicon(spark):
    from iceberg_workshop_spark.registry import queries

    df = queries()["q_llm_keyword_tag"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_phash_banding_pigeonhole_recall():
    from iceberg_workshop_spark.llm.multimodal import (
        PHASH_BAND_BITS,
        PHASH_BANDS,
        PHASH_BITS,
        PHASH_MAX_HAMMING,
    )

    assert PHASH_BANDS * PHASH_BAND_BITS == PHASH_BITS
    assert PHASH_MAX_HAMMING < PHASH_BANDS  # pigeonhole precondition
    rng = random.Random(20260815)
    mask = (1 << PHASH_BAND_BITS) - 1
    for _ in range(500):
        fp = rng.getrandbits(PHASH_BITS)
        flips = rng.sample(range(PHASH_BITS), PHASH_MAX_HAMMING)
        other = fp
        for k in flips:
            other ^= 1 << k
        bands_equal = [
            (fp >> (PHASH_BAND_BITS * b)) & mask
            == (other >> (PHASH_BAND_BITS * b)) & mask
            for b in range(PHASH_BANDS)
        ]
        assert any(bands_equal), f"no band survived flips {flips}"


def test_phash_nonascii_oracle_parity(spark, tmp_path):
    """q_llm_multimodal_phash on a corpus with multibyte characters:
    the numpy fingerprint samples UTF-8 BYTES while the DuckDB oracle
    samples codepoints, so parity only holds through the ASCII
    projection both sides now apply. This fixture (accents, CJK, emoji
    in the first 66 chars, near-dup pairs differing only in non-ASCII
    content) fails the pre-projection implementation."""
    import duckdb
    import pandas as pd

    texts = [
        "café déjà-vu résumé " * 8,
        "cafe deja-vu resume " * 8,  # ASCII twin of row 0
        "日本語のテキスト mixed with english words here " * 4,
        "mixed with english words here " * 5,  # ASCII residue twin
        "emoji 🎉 party 🎉 time and plain filler text to pad " * 4,
        "emoji  party  time and plain filler text to pad " * 4,
        "ünïcödé héävy röw with ascii tail that dominates sampling " * 3,
        "unicode heavy row with ascii tail that dominates sampling " * 3,
    ]
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["xx"] * len(texts),
            "source": ["t"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet")

    from iceberg_workshop_spark.registry import oracle_sql, queries

    from tests.helpers import assert_frames_match

    spark_pdf = (
        queries()["q_llm_multimodal_phash"](spark, str(tmp_path)).toPandas()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'documents.parquet'}')"
    )
    oracle_pdf = con.execute(
        oracle_sql()["q_llm_multimodal_phash"]
    ).df()
    assert_frames_match(spark_pdf, oracle_pdf, "phash_nonascii")


def test_url_canonicalization_idempotent(spark):
    """canon(canon(u)) == canon(u) for every synthesized variant, and
    the canonical key never contains tracking params / fragments /
    default ports."""
    from pyspark.sql import functions as F

    from iceberg_workshop_spark.llm.corpus import _url_raw_spark, canonical_url

    raw = (
        spark.range(0, 48)
        .withColumnRenamed("id", "doc_id")
        .select("doc_id", _url_raw_spark().alias("url"))
    )
    once = raw.select("doc_id", canonical_url(F.col("url")).alias("c1"))
    twice = once.select("doc_id", "c1", canonical_url(F.col("c1")).alias("c2"))
    rows = twice.collect()
    for r in rows:
        assert r.c1 == r.c2, f"not idempotent: {r.c1!r} -> {r.c2!r}"
        assert "utm_" not in r.c1 and "#" not in r.c1 and ":443" not in r.c1
        assert not r.c1.endswith(("/", "?", "&"))


def _adversarial_urls() -> list[str]:
    """Hypothesis-style grammar sweep: every combination of host
    spelling × port × path (incl. %-encoded) × query (incl. boundary
    attacks) × fragment — 540 URLs covering the VERDICT r7 #8 cases
    (ports in hosts, %-encoding, query-only URLs)."""
    hosts = ["example.com", "Example.COM", "EXAMPLE.com"]
    ports = ["", ":443", ":8080"]
    paths = ["", "/", "/a/b", "/a%2Fb", "/a%2fb", "/p%20q/"]
    queries = [
        "",
        "?utm_source=feed",
        "?xutm_source=1",
        "?utm_a=1&utm_b=2",
        "?a=1&utm_mid=9&b=2",
        "?a=utm_b=1",
        "?page=2&utm_campaign=x",
        "?only=1",
        "?utm_source=feed&page=2",
        "?a=%2F",
    ]
    frags = ["", "#top", "#utm_source=f"]
    return [
        f"https://{h}{p}{pa}{q}{f}"
        for h in hosts
        for p in ports
        for pa in paths
        for q in queries
        for f in frags
    ]


def test_url_canonicalization_adversarial_properties(spark):
    """VERDICT r7 #8 — the canonicalizer under adversarial inputs, one
    Spark job over the full grammar sweep:

    1. idempotence everywhere, including %-encoded paths;
    2. boundary anchoring: params merely CONTAINING 'utm_'
       (?xutm_source=…, ?a=utm_b=1) survive verbatim — no wrong merge;
    3. %-encoding is preserved, never decoded: %2F stays distinct from
       a literal / (and from %2f — the safe, recall-miss direction);
    4. non-default ports survive, :443 strips, query-only URLs keep
       their query instead of leaking it into the host;
    5. the DuckDB rendering (canonical_url_sql) agrees character for
       character on every URL — the oracle canonicalizes identically.
    """
    import duckdb
    from pyspark.sql import functions as F

    from iceberg_workshop_spark.llm.corpus import (
        canonical_url,
        canonical_url_sql,
    )

    urls = _adversarial_urls()
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], "i int, url string")
    got = {
        r["i"]: (r["c1"], r["c2"])
        for r in df.select(
            "i",
            canonical_url(F.col("url")).alias("c1"),
        )
        .select("i", "c1", canonical_url(F.col("c1")).alias("c2"))
        .collect()
    }
    canon = {u: got[i][0] for i, u in enumerate(urls)}
    for i, u in enumerate(urls):
        c1, c2 = got[i]
        assert c1 == c2, f"not idempotent: {u!r} -> {c1!r} -> {c2!r}"
        assert "#" not in c1 and "utm_source=feed" not in c1

    # boundary anchoring: lookalike params survive, real utm strips
    assert canon["https://example.com/a/b?xutm_source=1"].endswith("?xutm_source=1")
    assert canon["https://example.com/a/b?a=utm_b=1"].endswith("?a=utm_b=1")
    assert canon["https://example.com/a/b?utm_a=1&utm_b=2"] == "https://example.com/a/b"
    assert canon["https://example.com/a/b?a=1&utm_mid=9&b=2"].endswith("?a=1&b=2")
    # distinct lookalike params never merge
    assert (
        canon["https://example.com/a/b?xutm_source=1"]
        != canon["https://example.com/a/b?utm_source=feed"]
    )
    # %-encoding preserved, distinct from literal and from other case
    enc = {canon[f"https://example.com{p}"] for p in ("/a/b", "/a%2Fb", "/a%2fb")}
    assert len(enc) == 3
    # ports: default strips, explicit survives; query-only keeps query
    assert canon["https://EXAMPLE.com:443/a/b"] == "https://example.com/a/b"
    assert canon["https://example.com:8080/a/b"] == "https://example.com:8080/a/b"
    assert canon["https://example.com?only=1"] == "https://example.com?only=1"
    assert canon["https://example.com?utm_source=feed"] == "https://example.com"

    # dialect parity: DuckDB canonicalizes every URL identically
    con = duckdb.connect()
    con.execute("CREATE TABLE u(i INT, url VARCHAR)")
    con.executemany("INSERT INTO u VALUES (?, ?)", list(enumerate(urls)))
    du = dict(
        con.execute(
            f"SELECT i, {canonical_url_sql('url')} FROM u"
        ).fetchall()
    )
    for i, u in enumerate(urls):
        assert du[i] == got[i][0], (
            f"dialect mismatch on {u!r}: duckdb={du[i]!r} spark={got[i][0]!r}"
        )
