"""Feature hashing (HashingTrick) — reference parity and monoid law.

Reference: core/HashingTrick.scala:19-38 (index = murmur128.h1 & mask,
value negated when h2 & 1 == 1, vector sum monoid, default seed
123456).
"""

import numpy as np

from pyspark.sql import functions as F

from algebird_spark.functions.hashing import murmur3_x64_128
from algebird_spark.operators.features import (DEFAULT_SEED,
                                               feature_hash_kernel,
                                               feature_hash_vector)


def test_kernel_matches_scalar_reference_semantics():
    keys = ["alpha", "beta", "", "the quick brown fox", "x" * 100]
    idx, sign = feature_hash_kernel(np.array(keys, dtype=object), 10)
    for k, i, s in zip(keys, idx, sign):
        h1, h2 = murmur3_x64_128(k.encode(), DEFAULT_SEED)
        assert i == (h1 & ((1 << 10) - 1))
        assert s == (-1 if (h2 & 1) else 1)
        assert 0 <= i < 1024


def test_vector_monoid_law_on_spark(spark):
    rows = [(i, f"w{i % 37}") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, tok string")
    whole = feature_hash_vector(df, [], "tok", bits=8)
    halves = (feature_hash_vector(df.filter("doc_id % 2 = 0"), [], "tok",
                                  bits=8)
              .union(feature_hash_vector(df.filter("doc_id % 2 = 1"), [],
                                         "tok", bits=8))
              .groupBy("f_index").agg(F.sum("f_value").alias("f_value"))
              .filter(F.col("f_value") != 0))
    a = {r["f_index"]: r["f_value"] for r in whole.collect()}
    b = {r["f_index"]: r["f_value"] for r in halves.collect()}
    assert a == b
    # counts of ±1 weights: total signed mass == sum of per-token signs
    assert sum(a.values()) == sum(
        int(s) for s in feature_hash_kernel(
            np.array([r[1] for r in rows], dtype=object), 8)[1])


def test_grouped_vectors_disjoint(spark):
    df = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", "x")], "g string, tok string")
    out = feature_hash_vector(df, ["g"], "tok", bits=6).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r["g"], {})[r["f_index"]] = r["f_value"]
    # same token -> same index in both groups
    (xi,), (si,) = (feature_hash_kernel(np.array(["x"], dtype=object), 6))
    assert by_g["b"] == {int(xi): float(si)}
    assert abs(by_g["a"].get(int(xi), 0.0)) == 1.0


def test_feature_hash_keeps_integer_keys_exact_beside_a_null(spark):
    """A bigint key hashes as its integer whatever shares its Arrow
    batch: with and without a NULL in one batch every key gets the
    same (index, sign), the kernel's over the int64 values. The NULL
    key gets a NULL index and sign, and the vector skips it."""
    from algebird_spark.operators.features import with_feature_hash
    keys = [1, 2, 3, 2 ** 53 + 1, -7]
    plain = spark.createDataFrame([(k,) for k in keys], "k bigint") \
        .coalesce(1)
    nulled = spark.createDataFrame([(k,) for k in keys] + [(None,)],
                                   "k bigint").coalesce(1)

    def hashed(df):
        return {r["k"]: (r["f_index"], r["f_sign"])
                for r in with_feature_hash(df, "k").collect()}

    a, b = hashed(plain), hashed(nulled)
    assert b.pop(None) == (None, None)
    assert a == b
    idx, sign = feature_hash_kernel(np.array(keys, dtype=np.int64), 12)
    assert a == {k: (int(i), int(s)) for k, i, s in zip(keys, idx, sign)}
    assert sorted(feature_hash_vector(nulled, [], "k").collect()) == \
        sorted(feature_hash_vector(plain, [], "k").collect())


def test_detect_language_on_real_sentences(spark):
    """The stopword-vote heuristic must identify clear-cut real
    sentences and fall back to 'und' when nothing matches."""
    from pyspark.sql import functions as F

    from algebird_spark.operators.text import detect_language
    rows = [
        (1, "the cat sat on the mat and it was happy", "en"),
        (2, "der hund ist nicht auf die couch und sie schlaeft", "de"),
        (3, "le chat est dans la maison et il ne dort pas", "fr"),
        (4, "el perro no come con los gatos que viven por la casa", "es"),
        (5, "zzz qqq xxx yyy", "und"),
        (6, "", "und"),
    ]
    df = spark.createDataFrame([(i, t) for i, t, _ in rows],
                               "id long, text string")
    got = {r["id"]: r["lid"] for r in df.select(
        "id", detect_language(F.col("text")).alias("lid")).collect()}
    for i, _, want in rows:
        assert got[i] == want, (i, got[i], want)


def test_quality_score_orders_obvious_cases(spark):
    """Composite quality: clean long prose must outscore punctuation
    soup and empty text; all scores within [0, 1]."""
    from pyspark.sql import functions as F

    from algebird_spark.operators.text import quality_score
    clean = ("the quick brown fox jumps over the lazy dog and it was "
             "a very good day for all of the animals in the field ") * 4
    soup = "!!! ??? ... ;;; ::: ,,, ((( ))) --- !!!" * 5
    df = spark.createDataFrame(
        [(1, clean), (2, soup), (3, "")], "id long, text string")
    got = {r["id"]: r["q"] for r in df.select(
        "id", quality_score(F.col("text")).alias("q")).collect()}
    assert 0.0 <= got[3] <= got[2] < got[1] <= 1.0, got


def test_bpe_ish_count_upper_bounds_whitespace(spark):
    from pyspark.sql import functions as F

    from algebird_spark.operators.text import (bpe_ish_token_count,
                                               token_count)
    df = spark.createDataFrame(
        [(1, "don't stop-me now... ok?"), (2, "plain words only"),
         (3, ""), (4, "a.b.c")], "id long, text string")
    rows = df.select("id", token_count(F.col("text")).alias("ws"),
                     bpe_ish_token_count(F.col("text")).alias("bpe")) \
        .collect()
    for r in rows:
        assert r["bpe"] >= r["ws"], r
    by = {r["id"]: r for r in rows}
    assert by[1]["bpe"] > by[1]["ws"]  # punctuation split out
    assert by[2]["bpe"] == by[2]["ws"] == 3


# --- t-digest CDF normalization -------------------------------------------

def test_tdigest_rank_batch_matches_scalar():
    import numpy as np
    from algebird_spark.operators.features import tdigest_rank_batch
    from algebird_spark.sketches import TDigest
    rng = np.random.default_rng(7)
    sk = TDigest(100)
    sk.update_batch(rng.normal(size=5000))
    probe = np.concatenate([rng.normal(size=300),
                            [-100.0, 100.0],            # beyond extremes
                            [sk.min_v, sk.max_v]])      # exact endpoints
    batch = tdigest_rank_batch(sk, probe)
    scalar = np.array([sk.rank(float(v)) for v in probe])
    assert np.array_equal(batch, scalar)  # identical, not just close


def test_tdigest_rank_batch_empty_sketch():
    import numpy as np
    from algebird_spark.operators.features import tdigest_rank_batch
    from algebird_spark.sketches import TDigest
    out = tdigest_rank_batch(TDigest(50), np.array([1.0, 2.0]))
    assert np.isnan(out).all()


def test_cdf_normalize_global_and_grouped(spark):
    import numpy as np
    from pyspark.sql import Row, functions as F
    from algebird_spark.operators.features import cdf_normalize
    rng = np.random.default_rng(11)
    rows = [Row(g="a", x=float(v)) for v in rng.normal(0, 1, 4000)] + \
           [Row(g="b", x=float(v)) for v in rng.normal(50, 5, 4000)]
    df = spark.createDataFrame(rows)
    out = cdf_normalize(df, "x", ["g"])
    med = out.filter((F.col("cdf") > 0.45) & (F.col("cdf") < 0.55)) \
        .groupBy("g").agg(F.avg("x").alias("m")).collect()
    meds = {r["g"]: r["m"] for r in med}
    assert abs(meds["a"]) < 0.5 and abs(meds["b"] - 50) < 2.5
    # grouped normalization is per-group: both groups span [0, 1]
    spans = out.groupBy("g").agg(F.min("cdf").alias("lo"),
                                 F.max("cdf").alias("hi")).collect()
    assert all(r["lo"] <= 0.01 and r["hi"] >= 0.99 for r in spans)
    # global mode ranks group b's values near the top
    gl = cdf_normalize(df, "x")
    top = gl.filter(F.col("cdf") > 0.9).groupBy("g").count().collect()
    assert {r["g"] for r in top} == {"b"}


def test_cdf_normalize_cogroup_equals_broadcast(spark):
    """High-cardinality path (r5 VERDICT wrong #2): with the SAME state
    table, the co-grouped ranking must equal the broadcast ranking
    bit-for-bit — the strategies differ only in where rows meet their
    group's sketch."""
    import numpy as np
    from pyspark.sql import Row

    from algebird_spark.agg import STATE_COL, sketch_by_key
    from algebird_spark.operators.features import (_rank_broadcast,
                                                   _rank_cogroup)
    from algebird_spark.sketches import TDigest
    rng = np.random.default_rng(7)
    rows = [Row(i=i, g=None if i % 101 == 0 else int(i % 97), x=float(v))
            for i, v in enumerate(rng.normal(0, 1, 6000))]
    df = spark.createDataFrame(rows)
    states_df = sketch_by_key(df, ["g"], "x", lambda: TDigest(100))
    states_df = states_df.persist()
    states_df.count()
    states = {(r["g"],): bytes(r[STATE_COL]) for r in states_df.collect()}
    a = {(r["i"],): r["cdf"] for r in
         _rank_broadcast(df, "x", ["g"], states, "cdf").collect()}
    b = {(r["i"],): r["cdf"] for r in
         _rank_cogroup(df, "x", ["g"], states_df, "cdf").collect()}
    states_df.unpersist()
    assert a == b  # exact float equality: identical states + kernel
    assert all(a[(i,)] is not None for i in range(0, 6000, 101))


def test_cdf_normalize_forced_cogroup_rank_error(spark):
    """cdf_normalize with a tiny broadcast threshold must route through
    the cogroup path and stay within the t-digest rank bound."""
    import numpy as np
    from pyspark.sql import Row, Window, functions as F
    from algebird_spark.operators.features import cdf_normalize
    rng = np.random.default_rng(3)
    rows = [Row(g=int(i % 5), x=float(v))
            for i, v in enumerate(rng.normal(0, 1, 5000))]
    df = spark.createDataFrame(rows)
    out = cdf_normalize(df, "x", ["g"], max_broadcast_groups=1)
    w = Window.partitionBy("g").orderBy("x")
    err = (out.withColumn("pr", F.percent_rank().over(w))
           .agg(F.max(F.abs(F.col("cdf") - F.col("pr")))).collect()[0][0])
    assert err <= 0.01


def test_scrub_pii_redacts_and_counts(spark):
    from algebird_spark.operators.text import scrub_pii
    df = spark.createDataFrame(
        [(1, "mail me at a.b+x@foo.org or call 555-123-4567"),
         (2, "server at 10.0.0.1 and 192.168.300.7, no contacts"),
         (3, "plain prose with no identifiers at all"),
         (4, None)],
        "id long, text string")
    rows = {r["id"]: r for r in scrub_pii(df).collect()}
    r1 = rows[1]
    assert (r1["n_email"], r1["n_phone"], r1["n_ipv4"]) == (1, 1, 0)
    assert r1["text_scrubbed"] == "mail me at <|email|> or call <|phone|>"
    r2 = rows[2]
    # over-inclusive by design: octets >255 still redact
    assert r2["n_ipv4"] == 2 and "<|ipv4|>" in r2["text_scrubbed"]
    assert "10.0.0.1" not in r2["text_scrubbed"]
    r3 = rows[3]
    assert (r3["n_email"], r3["n_phone"], r3["n_ipv4"]) == (0, 0, 0)
    assert r3["text_scrubbed"] == r3["text"]
    r4 = rows[4]
    assert r4["text_scrubbed"] is None and r4["n_email"] == 0


def test_scrub_pii_rejects_unknown_kind(spark):
    import pytest as _pytest

    from algebird_spark.operators.text import scrub_pii
    df = spark.createDataFrame([(1, "x")], "id long, text string")
    with _pytest.raises(ValueError):
        scrub_pii(df, kinds=("email", "ssn"))


def test_extract_domain(spark):
    from algebird_spark.operators.text import extract_domain
    df = spark.createDataFrame(
        [(1, "read https://www.Example.ORG/path?q=1 now"),
         (2, "plain http://sub.a.b/x and https://second.com/y"),
         (3, "no links here"),
         (4, None),
         (5, "see https://example.com, details follow"),
         (6, "at https://example.com:8080/admin"),
         (7, "link (https://en.wikipedia.org) cited"),
         (8, "via https://user:pw@evil.example.com/x")],
        "id long, text string")
    rows = {r["id"]: r["domain"] for r in
            df.withColumn("domain", extract_domain(F.col("text"))).collect()}
    assert rows[1] == "example.org"
    assert rows[2] == "sub.a.b"          # first match wins
    assert rows[3] == ""                  # no-match contract
    assert rows[4] is None
    assert rows[5] == "example.com"       # trailing ',' stripped
    assert rows[6] == "example.com"       # port dropped
    assert rows[7] == "en.wikipedia.org"  # trailing ')' stripped
    assert rows[8] == "evil.example.com"  # userinfo skipped


def test_chunk_documents_boundaries(spark):
    import pytest as _pytest

    from algebird_spark.operators.text import chunk_documents
    toks = lambda a, b: " ".join(f"t{i}" for i in range(a, b))  # noqa: E731
    df = spark.createDataFrame(
        [(1, toks(0, 10)),   # 10 tokens: chunks at 0 and 4 only —
                             # start 8 is contained in chunk(4), dropped
         (2, toks(0, 3)),    # shorter than max: exactly one full chunk
         (3, toks(0, 13))],  # 13 tokens: starts 0, 4, 8 all kept
        "doc_id long, text string")
    out = chunk_documents(df, max_tokens=8, overlap=4)
    rows = sorted((r["doc_id"], r["chunk_idx"], r["n_chunk_tokens"],
                   r["chunk_text"]) for r in out.collect())
    by_doc = {}
    for d, i, n, t in rows:
        by_doc.setdefault(d, []).append((i, n, t))
    assert [x[:2] for x in by_doc[1]] == [(0, 8), (1, 6)]
    assert by_doc[2] == [(0, 3, toks(0, 3))]
    assert [x[:2] for x in by_doc[3]] == [(0, 8), (1, 8), (2, 5)]
    # every token appears in at least one chunk; consecutive chunks
    # overlap by exactly `overlap` where a next chunk exists
    assert by_doc[3][1][2].split(" ")[:4] == by_doc[3][0][2].split(" ")[-4:]
    covered = set()
    for _i, _n, t in by_doc[3]:
        covered.update(t.split(" "))
    assert covered == set(toks(0, 13).split(" "))
    with _pytest.raises(ValueError):
        chunk_documents(df, max_tokens=4, overlap=4)
    with _pytest.raises(ValueError):
        chunk_documents(df, max_tokens=0)


def test_chunk_documents_literal_space_split_is_pinned(spark):
    """The documented tokenization contract: literal ' ' split, empty
    tokens preserved (engine-portable with DuckDB string_split), and
    reassembling the overlap-free chunks reproduces the original text
    byte-for-byte."""
    from algebird_spark.operators.text import chunk_documents
    df = spark.createDataFrame(
        [(1, "a  b c"), (2, " lead and trail ")], "doc_id long, text string")
    out = chunk_documents(df, max_tokens=2, overlap=0)
    by = {}
    for r in out.collect():
        by.setdefault(r["doc_id"], []).append((r["chunk_idx"],
                                               r["chunk_text"]))
    # 'a  b c' -> ['a', '', 'b', 'c']: empty token kept, 2 chunks
    assert [t for _, t in sorted(by[1])] == ["a ", "b c"]
    for doc_id, text in ((1, "a  b c"), (2, " lead and trail ")):
        joined = " ".join(t for _, t in sorted(by[doc_id]))
        assert joined == text
