"""Unit/property tests for the training-data operators: dedup invariants,
LSH recall vs brute force, text metrics on edge-case inputs."""

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from presto_ethereum_spark.operators import dedup, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        Row(doc_id=0, text=base),
        Row(doc_id=1, text=base),  # exact duplicate
        Row(doc_id=2, text=base.replace("lazy", "sleepy")),  # near duplicate
        Row(doc_id=3, text="completely different content about spark sql engines"),
        Row(doc_id=4, text=""),  # empty
        Row(doc_id=5, text="short"),  # < shingle width
        Row(doc_id=6, text="THE  Quick   Brown fox " + base),  # case/ws variant
    ]
    return spark.createDataFrame(rows)


class TestExactDedup:
    def test_exact_dup_grouped(self, docs):
        out = dedup.exact_dedup(docs).collect()
        by_keeper = {r["keeper_doc_id"]: r["n_copies"] for r in out}
        assert by_keeper[0] == 2  # docs 0 and 1 identical
        assert by_keeper[3] == 1

    def test_normalization_collapses_ws_and_case(self, spark):
        d = spark.createDataFrame(
            [Row(doc_id=0, text="Hello  World"), Row(doc_id=1, text="hello world ")]
        )
        assert dedup.exact_dedup(d).count() == 1


class TestMinhash:
    def test_identical_docs_identical_sigs(self, docs):
        sigs = (
            docs.where("doc_id IN (0, 1)")
            .select(dedup.minhash_signature(F.col("text")).alias("s"))
            .collect()
        )
        assert list(sigs[0]["s"]) == list(sigs[1]["s"])

    def test_near_dup_found_distinct_not(self, docs):
        pairs = {
            (r["id_a"], r["id_b"])
            for r in dedup.minhash_dedup_pairs(docs, threshold=0.5).collect()
        }
        assert (0, 1) in pairs  # exact dup -> jaccard 1.0
        assert (0, 2) in pairs  # one-word change -> high jaccard
        assert not any(3 in p for p in pairs)  # unrelated doc

    def test_jaccard_bounds(self, docs):
        out = (
            docs.alias("a")
            .join(docs.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
            .select(dedup.jaccard(F.col("a.text"), F.col("b.text")).alias("j"))
            .collect()
        )
        assert all(0.0 <= r["j"] <= 1.0 for r in out)

    def test_short_and_empty_docs_excluded(self, docs):
        # docs 4 and 5 have no 3-gram shingles; candidates must not contain them
        cand = dedup.minhash_candidates(docs).collect()
        ids = {r["id_a"] for r in cand} | {r["id_b"] for r in cand}
        assert 4 not in ids and 5 not in ids


class TestSimhash:
    def test_identical_same_hash(self, docs):
        out = docs.select("doc_id", dedup.simhash(F.col("text")).alias("h")).collect()
        by = {r["doc_id"]: r["h"] for r in out}
        assert by[0] == by[1]
        # near-dup within small hamming distance
        assert bin(by[0] ^ by[2]).count("1") <= 12
        # unrelated far away
        assert bin(by[0] ^ by[3]).count("1") > 12

    def test_pairs_detect_dup(self, docs):
        pairs = {
            (r["id_a"], r["id_b"])
            for r in dedup.simhash_dedup_pairs(docs, max_hamming=12).collect()
        }
        assert (0, 1) in pairs


class TestFuzzyHamming:
    def _py_key(self, s, width=24):
        import re

        norm = re.sub(r"[ \t\n\r]+", " ", s.lower())[:width]
        return norm + "#" * (width - len(norm))

    def test_hand_computed_pairs(self, spark):
        base = "alpha beta gamma delta epsilon zeta"
        rows = [
            Row(doc_id=0, text=base),
            # same 24-char key after case/whitespace normalization (text
            # long enough that padding never enters the key)
            Row(doc_id=1, text="ALPHA  beta\tgamma delta  epsilon"),
            Row(doc_id=2, text="alphX betY gamma delta epsilon"),  # subs at 5, 10
            Row(doc_id=3, text="totally different content here"),
            Row(doc_id=4, text="alpXa beXa gaXma delta epsilon"),  # subs at 4, 9, 14
        ]
        d = spark.createDataFrame(rows)
        got = {
            (r["id_a"], r["id_b"]): r["ham"]
            for r in dedup.fuzzy_hamming_pairs(d, max_hamming=3).collect()
        }
        assert got[(0, 1)] == 0
        assert got[(0, 2)] == 2
        assert got[(0, 4)] == 3
        assert not any(3 in p for p in got)

    def test_lossless_vs_brute_force(self, spark):
        """Pigeonhole blocking finds EXACTLY the brute-force pair set on a
        corpus engineered to stress chunk boundaries (substitutions spread
        across all four 6-char segments)."""
        import itertools
        import random

        rng = random.Random(42)
        alpha = "abcdef"
        base = [rng.choice(alpha) for _ in range(24)]
        texts = []
        for i in range(60):
            s = list(base)
            for _ in range(rng.randint(0, 5)):
                s[rng.randrange(24)] = rng.choice(alpha)
            texts.append("".join(s))
        d = spark.createDataFrame(
            [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
        )
        got = {
            (r["id_a"], r["id_b"]): r["ham"]
            for r in dedup.fuzzy_hamming_pairs(d, max_hamming=3).collect()
        }
        keys = [self._py_key(t) for t in texts]
        want = {}
        for i, j in itertools.combinations(range(60), 2):
            h = sum(a != b for a, b in zip(keys[i], keys[j]))
            if h <= 3:
                want[(i, j)] = h
        assert got == want

    def test_short_and_empty_docs_pad_deterministically(self, spark):
        d = spark.createDataFrame(
            [Row(doc_id=0, text=""), Row(doc_id=1, text="   "), Row(doc_id=2, text="ab")]
        )
        got = {
            (r["id_a"], r["id_b"]): r["ham"]
            for r in dedup.fuzzy_hamming_pairs(d, max_hamming=3).collect()
        }
        # "" -> 24 pads; "   " -> " " + 23 pads (ham 1 vs empty);
        # "ab" + 22 pads: 2 subs vs empty, and vs " " differs at pos 1
        # (' '/'a') and pos 2 ('#'/'b') -> 2
        assert got[(0, 1)] == 1
        assert got[(0, 2)] == 2
        assert got[(1, 2)] == 2

    def test_blocking_respects_blocking_cols(self, spark):
        d = spark.createDataFrame(
            [
                Row(doc_id=0, text="same text", lang="en"),
                Row(doc_id=1, text="same text", lang="de"),
                Row(doc_id=2, text="same text", lang="en"),
            ]
        )
        got = {
            (r["id_a"], r["id_b"])
            for r in dedup.fuzzy_hamming_pairs(
                d, max_hamming=3, blocking_cols=["lang"]
            ).collect()
        }
        assert got == {(0, 2)}

    def test_unsound_parameters_rejected(self):
        # both guards fire before the DataFrame is touched
        with pytest.raises(ValueError, match="pigeonhole"):
            dedup.fuzzy_hamming_pairs(None, max_hamming=4, segments=4)
        with pytest.raises(ValueError, match="divide"):
            dedup.fuzzy_hamming_pairs(None, max_hamming=3, width=25, segments=4)


class TestHllPartialMerge:
    def test_two_level_rollup_verdict(self, spark):
        from presto_ethereum_spark.plans import battery

        rows = battery.queries()["rel_hll_partial_merge"](
            spark, "/root/testdata/sf0.001"
        ).collect()
        assert rows, "empty result"
        for r in rows:
            assert r["hll_ok"] == 1, r
            assert r["n_partials"] >= 1
            assert r["exact_custs"] >= 1


class TestSimilarity:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def test_cosine_self_is_one(self, emb):
        out = emb.limit(5).select(
            F.round(similarity.cosine(F.col("embedding"), F.col("embedding")), 9).alias("c")
        ).collect()
        assert all(abs(r["c"] - 1.0) < 1e-9 for r in out)

    def test_lsh_recall_vs_brute_force(self, emb):
        """The approximate path must recover most true top-5 neighbors.
        Measured, not assumed (bands=15 x 4 bits; low-sim regime)."""
        truth = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.brute_force_topk(emb, emb, k=5).collect()
        }
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.lsh_topk(emb, dim=64, k=5, bands=15).collect()
        }
        recall = len(truth & approx) / len(truth)
        assert recall >= 0.8, f"LSH recall too low: {recall:.3f}"

    def test_topk_rank_contract(self, emb):
        out = similarity.brute_force_topk(emb, emb.where("vec_id = 0"), k=7).collect()
        assert [r["rank"] for r in out] == list(range(1, 8))
        sims = [r["sim"] for r in out]
        assert sims == sorted(sims, reverse=True)

    def test_gemm_pairs_bit_identical_to_fold(self, emb):
        """The broadcast block-GEMM kernel must reproduce the expression
        fold's pairs AND sims exactly (same fp64 op order per pair)."""
        fold = set(map(tuple, similarity.cosine_pairs(emb, threshold=0.3).collect()))
        gemm = set(
            map(tuple, similarity.cosine_pairs_gemm(emb, threshold=0.3).collect())
        )
        assert fold == gemm and len(fold) > 0

    def test_gemm_pairs_tiled_bit_identical(self, emb):
        """Row-tiling the broadcast corpus (tiles=C map-only passes) must not
        change any pair's fp64 accumulation order: the tiled union equals the
        single-broadcast output exactly."""
        single = sorted(
            map(tuple, similarity.cosine_pairs_gemm(emb, threshold=0.3).collect())
        )
        tiled = sorted(
            map(
                tuple,
                similarity.cosine_pairs_gemm(emb, threshold=0.3, tiles=3).collect(),
            )
        )
        assert tiled == single and len(single) > 0

    def test_gemm_tiled_edge_cases(self, spark, emb):
        """Quantile-cut tiling (no driver id collect) must cover the id
        domain even when cuts collapse: tiles > distinct ids reduces to
        fewer effective tiles, empty input yields an empty frame."""
        small = emb.where("vec_id < 4")
        single = sorted(
            map(tuple, similarity.cosine_pairs_gemm(small, threshold=0.0).collect())
        )
        tiled = sorted(
            map(
                tuple,
                similarity.cosine_pairs_gemm(small, threshold=0.0, tiles=10).collect(),
            )
        )
        assert tiled == single and len(single) > 0
        assert (
            similarity.cosine_pairs_gemm(
                emb.where("vec_id < 0"), threshold=0.0, tiles=3
            ).count()
            == 0
        )

    def test_ivf_full_probe_equals_brute_force(self, emb):
        """With nprobe == n_cells every cell is probed, so the IVF result
        must equal exact search bit-for-bit — the index only *prunes*."""
        queries = emb.where("vec_id < 3")
        exact = sorted(
            map(tuple, similarity.brute_force_topk(emb, queries, k=5).collect())
        )
        full_probe = sorted(
            map(
                tuple,
                similarity.ivf_topk(
                    emb, queries, n_cells=4, nprobe=4, k=5
                ).collect(),
            )
        )
        assert full_probe == exact

    def test_ivf_partial_probe_recall(self, emb):
        """nprobe=2 of 8 cells must still recover most true neighbors —
        measured, not assumed."""
        queries = emb.where("vec_id < 10")
        truth = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.brute_force_topk(emb, queries, k=5).collect()
        }
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.ivf_topk(
                emb, queries, n_cells=8, nprobe=2, k=5
            ).collect()
        }
        recall = len(truth & approx) / len(truth)
        assert recall >= 0.5, f"IVF recall too low: {recall:.3f}"

    def test_ivf_assign_covers_all_cells_keys(self, emb):
        cents = similarity.seed_centroids(emb, n_cells=4)
        assigned = similarity.ivf_assign(emb, cents)
        cells = {r["cell"] for r in assigned.select("cell").distinct().collect()}
        assert cells <= {c for c, _ in cents}
        assert assigned.count() == emb.count()

    def test_kmeans_centroids_are_member_means(self, emb):
        """One Lloyd round: each refined centroid must equal the
        fixed-point mean of its assigned members (hand-recomputed), keep
        its seed cid, and leave the codebook contract unchanged."""
        seeds = similarity.seed_centroids(emb, n_cells=4)
        refined = similarity.kmeans_centroids(
            emb, n_cells=4, n_iters=1, seeds=seeds
        )
        assert [c for c, _ in refined] == [c for c, _ in seeds]
        members = {}
        for r in similarity.ivf_assign(emb, seeds).collect():
            members.setdefault(r["cell"], []).append(
                [float(x) for x in r["embedding"]]
            )
        S = similarity.KMEANS_QUANTUM
        import math

        for cid, cv in refined:
            vs = members[cid]
            for j, got in enumerate(cv):
                qsum = sum(math.floor(v[j] * S) for v in vs)
                assert got == (float(qsum) / S) / len(vs), (cid, j)

    def test_kmeans_empty_cell_keeps_previous_centroid(self, spark):
        # two far clusters + 1 outlier seed that captures nothing after
        # the first move: its centroid must survive unchanged
        rows = [(0, [1.0, 0.0]), (1, [1.0, 0.01]), (2, [1.0, -0.01]),
                (3, [0.9, 0.0])]
        d = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        seeds = [(0, [1.0, 0.0]), (7, [-1.0, 0.0])]
        refined = similarity.kmeans_centroids(d, n_iters=2, seeds=seeds)
        assert refined[1] == (7, [-1.0, 0.0])  # empty cell retained
        assert refined[0][0] == 0 and refined[0][1] != [1.0, 0.0]

    def test_ivf_serving_with_refined_centroids(self, emb):
        """The wiring ask: ivf_topk serves from a kmeans-refined codebook
        through the unchanged path.  Full probe must STILL equal brute
        force (any codebook only prunes), and partial-probe recall must
        hold up vs the seed codebook."""
        queries = emb.where("vec_id < 10")
        refined = similarity.kmeans_centroids(emb, n_cells=8, n_iters=2)
        exact = sorted(
            map(tuple, similarity.brute_force_topk(emb, queries, k=5).collect())
        )
        full = sorted(
            map(
                tuple,
                similarity.ivf_topk(
                    emb, queries, centroids=refined, nprobe=8, k=5
                ).collect(),
            )
        )
        assert full == exact
        truth = {(a, b) for a, b, *_ in exact}

        def recall(cents):
            approx = {
                (r["query_id"], r["neighbor_id"])
                for r in similarity.ivf_topk(
                    emb, queries, centroids=cents, nprobe=2, k=5
                ).collect()
            }
            return len(truth & approx) / len(truth)

        seed_r = recall(similarity.seed_centroids(emb, n_cells=8))
        ref_r = recall(refined)
        # refinement exists to help; allow a small per-dataset wobble but
        # fail on a real regression
        assert ref_r >= seed_r - 0.1, (seed_r, ref_r)
        assert ref_r >= 0.5, ref_r


class TestText:
    def test_empty_text_no_crash(self, spark):
        d = spark.createDataFrame([Row(text="")])
        row = d.select(
            text.quality_score(F.col("text")).alias("q"),
            text.lang_id(F.col("text")).alias("lang"),
            text.token_count_regex(F.col("text")).alias("n"),
            text.fingerprint(F.col("text")).alias("fp"),
        ).first()
        assert 0.0 <= row["q"] <= 1.0
        assert row["lang"] == "und"
        assert row["n"] == 0
        assert len(row["fp"]) == 32

    def test_lang_id_authentic_snippets(self, spark):
        rows = [
            Row(lang="en", text="the cat is on the table and it is not happy"),
            Row(lang="de", text="der hund ist nicht mit der katze im haus"),
            Row(lang="fr", text="le chat est dans la maison et il est content"),
            Row(lang="es", text="el perro es un animal y no es el gato"),
        ]
        out = spark.createDataFrame(rows).select(
            "lang", text.lang_id(F.col("text")).alias("pred")
        ).collect()
        assert all(r["lang"] == r["pred"] for r in out)

    def test_token_regex_boundaries(self, spark):
        d = spark.createDataFrame([Row(text="ab3cd, x-1!")])
        # ab / 3 / cd / , / x / - / 1 / ! -> 8
        assert d.select(text.token_count_regex(F.col("text")).alias("n")).first()["n"] == 8

    def test_shingles_width(self, spark):
        d = spark.createDataFrame([Row(text="a b c d")])
        out = d.select(text.word_shingles(F.col("text"), 3).alias("s")).first()["s"]
        assert out == ["a b c", "b c d"]

    def test_repetition_signals_hand_computed(self, spark):
        d = spark.createDataFrame([Row(doc_id=1, text="a a a b"), Row(doc_id=2, text="x")])
        rows = {r["doc_id"]: r for r in text.repetition_signals(d).collect()}
        assert 2 not in rows  # single-token docs excluded (no bigrams)
        r = rows[1]
        assert r["total_tokens"] == 4
        assert r["dup_token_frac"] == 1 - 2 / 4
        assert r["top_token_frac"] == 3 / 4
        # bigrams: "a a", "a a", "a b"
        assert r["dup_bigram_frac"] == 1 - 2 / 3
        assert r["top_bigram_frac"] == 2 / 3

    def test_decontaminate_flags_only_overlapping_nonbench(self, spark):
        d = spark.createDataFrame(
            [
                Row(doc_id=0, text="p q r s"),      # bench (0 % 20 == 0)
                Row(doc_id=1, text="z z p q r z"),  # shares trigram "p q r"
                Row(doc_id=2, text="u v w x y"),    # disjoint
                Row(doc_id=20, text="p q r t"),     # bench again, never reported
            ]
        )
        out = {r["doc_id"]: r["n_hit_grams"] for r in text.decontaminate(d).collect()}
        assert out == {1: 1}

    def test_cluster_keepers_keep_longest(self, spark):
        from presto_ethereum_spark.operators.dedup import cluster_keepers

        clusters = spark.createDataFrame(
            [  # cluster 1 = {1, 2, 3}; cluster 7 = {7, 9}
                Row(doc_id=1, cluster_id=1, cluster_size=3),
                Row(doc_id=2, cluster_id=1, cluster_size=3),
                Row(doc_id=3, cluster_id=1, cluster_size=3),
                Row(doc_id=7, cluster_id=7, cluster_size=2),
                Row(doc_id=9, cluster_id=7, cluster_size=2),
            ]
        )
        docs = spark.createDataFrame(
            [
                Row(doc_id=1, n_chars=10),
                Row(doc_id=2, n_chars=99),
                Row(doc_id=3, n_chars=99),  # tie with 2 -> lowest id wins
                Row(doc_id=7, n_chars=5),
                Row(doc_id=9, n_chars=50),
                Row(doc_id=11, n_chars=1),  # not clustered, never a keeper
            ]
        )
        out = {
            r["cluster_id"]: (r["keeper_doc_id"], r["keeper_n_chars"], r["cluster_size"])
            for r in cluster_keepers(clusters, docs).collect()
        }
        assert out == {1: (2, 99, 3), 7: (9, 50, 2)}


class TestSaltedAgg:
    def test_equals_plain_groupby(self, spark):
        from presto_ethereum_spark.operators import skew

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        salted = skew.salted_agg(
            ev,
            keys=["event_type"],
            aggs=[
                ("count", F.col("event_id"), "n"),
                ("sum", F.col("value").cast("decimal(18,6)"), "total"),
                ("min", F.col("value"), "lo"),
                ("max", F.col("value"), "hi"),
            ],
            salt_buckets=8,
            salt_on="event_id",
        )
        plain = ev.groupBy("event_type").agg(
            F.count("event_id").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("total"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
        assert sorted(map(tuple, salted.collect())) == sorted(
            map(tuple, plain.collect())
        )

    def test_non_algebraic_rejected(self, spark):
        from presto_ethereum_spark.operators import skew

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        with pytest.raises(ValueError, match="non-algebraic"):
            skew.salted_agg(ev, ["event_type"], [("avg", F.col("value"), "a")])


class TestWinnowing:
    @pytest.fixture(scope="class")
    def fps(self, spark):
        rows = [
            Row(doc_id=0, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=1, text="THE  quick Brown fox jumps over the lazy dog"),
            Row(doc_id=2, text="short"),
            Row(doc_id=3, text=""),
            Row(doc_id=4, text="something else entirely that ends with the lazy dog"),
            Row(doc_id=5, text="zzz qqq xxx vvv kkk completely disjoint www yyy"),
        ]
        out = (
            text.winnow_fingerprints(spark.createDataFrame(rows))
            .select("doc_id", "fps")
            .collect()
        )
        return {r["doc_id"]: set(r["fps"]) for r in out}

    def test_normalization_invariance(self, fps):
        assert fps[0] == fps[1] and fps[0]

    def test_short_and_empty_produce_nothing(self, fps):
        assert fps[2] == set() and fps[3] == set()

    def test_shared_substring_guarantee(self, fps):
        # docs 0 and 4 share "the lazy dog" (12 chars >= k+w-1=11)
        assert fps[0] & fps[4]

    def test_disjoint_docs_disjoint_fps(self, fps):
        assert not (fps[0] & fps[5])


class TestIntervalJoin:
    """interval_join: the bin-bucketed equi-join rewrite of a range join
    must equal the naive theta join exactly, with no duplicate pairs."""

    @pytest.fixture(scope="class")
    def frames(self, spark):
        points = spark.createDataFrame(
            [Row(pid=i, pt=t) for i, t in enumerate(
                [0, 1, 5, 9, 10, 11, 19, 20, 21, 35, 99, 100, -1, -10, -11]
            )]
        )
        intervals = spark.createDataFrame(
            [
                Row(iid=0, s=0, e=10),     # aligned: [0, 10)
                Row(iid=1, s=5, e=25),     # spans 3 bins at width 10
                Row(iid=2, s=10, e=11),    # single point bin
                Row(iid=3, s=95, e=101),   # crosses a bin boundary
                Row(iid=4, s=-15, e=2),    # negative start (floor-div path)
                Row(iid=5, s=40, e=50),    # matches nothing
            ]
        )
        return points, intervals

    def test_matches_naive_theta_join(self, frames):
        from presto_ethereum_spark.operators.temporal import interval_join

        points, intervals = frames
        for width in (1, 3, 10, 100):
            got = sorted(
                (r.pid, r.iid)
                for r in interval_join(
                    points, intervals, "pt", "s", "e", bin_width=width
                ).collect()
            )
            want = sorted(
                (r.pid, r.iid)
                for r in points.join(
                    intervals, (F.col("s") <= F.col("pt")) & (F.col("pt") < F.col("e"))
                ).collect()
            )
            assert got == want, f"bin_width={width}"
            assert len(got) == len(set(got)), f"duplicates at bin_width={width}"

    def test_half_open_semantics(self, frames, spark):
        from presto_ethereum_spark.operators.temporal import interval_join

        points, intervals = frames
        out = interval_join(points, intervals, "pt", "s", "e", bin_width=10)
        pairs = {(r.pid, r.iid) for r in out.collect()}
        # pt=10 (pid=4) is excluded from [0,10) but in [10,11) and [5,25)
        assert (4, 0) not in pairs
        assert (4, 2) in pairs and (4, 1) in pairs
        assert not any(i == 5 for _, i in pairs)  # empty interval key absent

    def test_plan_is_equi_join_not_nested_loop(self, frames):
        from presto_ethereum_spark.operators.temporal import interval_join

        points, intervals = frames
        plan = interval_join(
            points, intervals, "pt", "s", "e", bin_width=10
        )._jdf.queryExecution().executedPlan().toString()
        assert "NestedLoop" not in plan


class TestHashSampling:
    """split_assign / stratified_take: deterministic, partition-invariant,
    total and disjoint — the properties randomSplit lacks."""

    @pytest.fixture(scope="class")
    def people(self, spark):
        return spark.createDataFrame(
            [Row(id=i, grp=f"g{i % 3}") for i in range(2000)]
        )

    def test_split_total_and_disjoint(self, people):
        from presto_ethereum_spark.operators.sampling import split_assign

        out = split_assign(people, "id", {"train": 90, "val": 5, "test": 5})
        counts = {r["split"]: r["n"] for r in
                  out.groupBy("split").agg(F.count("*").alias("n")).collect()}
        assert sum(counts.values()) == 2000          # total
        assert set(counts) == {"train", "val", "test"}
        # proportions within loose tolerance of 90/5/5
        assert 1600 < counts["train"] < 1950
        assert 40 < counts["val"] < 200
        assert 40 < counts["test"] < 200

    def test_split_partition_invariant(self, people):
        from presto_ethereum_spark.operators.sampling import split_assign

        a = {(r.id, r.split) for r in split_assign(people, "id").collect()}
        b = {
            (r.id, r.split)
            for r in split_assign(people.repartition(13, "grp"), "id").collect()
        }
        assert a == b

    def test_salt_changes_assignment(self, people):
        from presto_ethereum_spark.operators.sampling import split_assign

        a = {(r.id, r.split) for r in split_assign(people, "id", salt="a").collect()}
        b = {(r.id, r.split) for r in split_assign(people, "id", salt="b").collect()}
        assert a != b                                 # a fresh draw
        assert {x[0] for x in a} == {x[0] for x in b}  # same universe

    def test_stratified_take_exact_n_and_deterministic(self, people):
        from presto_ethereum_spark.operators.sampling import stratified_take

        out = stratified_take(people, strata="grp", key="id", n=7)
        per = {r.grp: r.n for r in
               out.groupBy("grp").agg(F.count("*").alias("n")).collect()}
        assert per == {"g0": 7, "g1": 7, "g2": 7}
        again = stratified_take(people.repartition(11), strata="grp", key="id", n=7)
        assert {(r.grp, r.id) for r in out.collect()} == {
            (r.grp, r.id) for r in again.collect()
        }


class TestConnectedComponents:
    def _edges(self, spark, pairs):
        return spark.createDataFrame(
            [Row(id_a=a, id_b=b) for a, b in pairs], "id_a long, id_b long"
        )

    def test_chain_collapses_to_one_cluster(self, spark):
        # A~B, B~C, C~D: transitive closure must merge all four even though
        # A~C / A~D were never emitted
        comp = dedup.connected_components(self._edges(spark, [(1, 2), (2, 3), (3, 4)]))
        got = {r.id: r.cluster_id for r in comp.collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 1}

    def test_disjoint_components_stay_apart(self, spark):
        comp = dedup.connected_components(
            self._edges(spark, [(10, 11), (20, 21), (21, 22)])
        )
        got = {r.id: r.cluster_id for r in comp.collect()}
        assert got == {10: 10, 11: 10, 20: 20, 21: 20, 22: 20}

    def test_long_path_converges_via_pointer_jumping(self, spark):
        # a 40-node path needs label info to travel 39 hops; plain neighbor
        # propagation would need 39 rounds > max_iter used here
        comp = dedup.connected_components(
            self._edges(spark, [(i, i + 1) for i in range(40)]), max_iter=12
        )
        assert {r.cluster_id for r in comp.collect()} == {0}

    def test_cycle_and_edge_order_invariance(self, spark):
        comp = dedup.connected_components(
            self._edges(spark, [(3, 2), (1, 3), (2, 1), (5, 4)])
        )
        got = {r.id: r.cluster_id for r in comp.collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}

    def test_dup_clusters_canonical_and_sizes(self, spark):
        out = dedup.dup_clusters(self._edges(spark, [(1, 2), (2, 3), (7, 8)]))
        rows = {r.doc_id: r for r in out.collect()}
        assert rows[1].cluster_size == 3 and rows[7].cluster_size == 2
        canonical = [d for d, r in rows.items() if d == r.cluster_id]
        assert sorted(canonical) == [1, 7]


class TestWeightedSample:
    @staticmethod
    def _ref_priority(key, weight, salt=""):
        import hashlib
        import math

        h = hashlib.md5(f"{salt}{key}".encode()).hexdigest()
        u = (int(h[:13], 16) + 1) / float(2**52 + 1)
        return -math.log(u) / weight

    def test_matches_reference_priorities_exactly(self, spark):
        from presto_ethereum_spark.operators.sampling import weighted_sample

        rows = [Row(doc_id=i, w=(i % 7) + 1) for i in range(200)]
        got = weighted_sample(
            spark.createDataFrame(rows), key="doc_id", weight_col="w", k=25,
            salt="t1",
        ).collect()
        want = sorted(
            rows, key=lambda r: (self._ref_priority(r.doc_id, r.w, "t1"), r.doc_id)
        )[:25]
        assert [(r.doc_id, r.rank) for r in got] == [
            (r.doc_id, i + 1) for i, r in enumerate(want)
        ]

    def test_huge_weight_always_sampled_first(self, spark):
        from presto_ethereum_spark.operators.sampling import weighted_sample

        rows = [Row(doc_id=i, w=1) for i in range(50)] + [Row(doc_id=99, w=10**9)]
        got = weighted_sample(
            spark.createDataFrame(rows), key="doc_id", weight_col="w", k=1
        ).collect()
        assert [r.doc_id for r in got] == [99]

    def test_invalid_k_raises(self, spark):
        from presto_ethereum_spark.operators.sampling import weighted_sample

        d = spark.createDataFrame([Row(doc_id=1, w=1)])
        with pytest.raises(ValueError):
            weighted_sample(d, key="doc_id", weight_col="w", k=0)


class TestBm25:
    def _run(self, spark, docs, terms, k=10):
        from presto_ethereum_spark.operators.text import bm25_topk

        df = spark.createDataFrame(
            [Row(doc_id=i, text=t) for i, t in enumerate(docs)]
        )
        return {r.doc_id: r for r in bm25_topk(df, terms, k=k).collect()}

    def test_hand_computed_single_term(self, spark):
        import math

        docs = ["a b c d", "a a b c", "x y z w"]
        got = self._run(spark, docs, ["a"])
        # N=3, df=2, dl=4 for all, avgdl=4 -> norm term = 1.2*(0.25+0.75*1)=1.2
        idf = math.log(1.0 + (3 - 2 + 0.5) / (2 + 0.5))
        s1 = idf * (1 * 2.2) / (1 + 1.2)
        s2 = idf * (2 * 2.2) / (2 + 1.2)
        assert got[0].score == round(s1, 6)
        assert got[1].score == round(s2, 6)
        assert got[2].score == 0.0
        # more occurrences at equal length -> higher score -> better rank
        assert got[1].rank == 1 and got[0].rank == 2

    def test_rare_term_outweighs_common(self, spark):
        docs = ["rare b", "comm b", "comm b", "comm b", "comm b"]
        got = self._run(spark, docs, ["rare", "comm"])
        assert got[0].rank == 1  # idf(rare) >> idf(comm), equal tf/dl


class TestRrfFuse:
    def test_hand_computed_fusion(self, spark):
        from presto_ethereum_spark.operators.text import rrf_fuse

        mk = lambda rows: spark.createDataFrame(
            [Row(doc_id=d, rank=r) for d, r in rows], "doc_id long, rank int"
        )
        # doc 1 in both lists, docs 2/3 each in one list at the same rank
        # (tie -> broken by doc_id), doc 4 deep in one list
        a = mk([(1, 1), (2, 2), (4, 3)])
        b = mk([(1, 2), (3, 2)])
        out = {r.doc_id: r for r in rrf_fuse([a, b], k=10).collect()}
        # scores are BIGINT pico-unit sums of 10^12 DIV (60 + rank),
        # reported as the exact integer / 1e12 (engine-portable; no
        # round(double) anywhere)
        assert out[1].rrf == (10**12 // 61 + 10**12 // 62) / 1e12
        assert out[2].rrf == out[3].rrf == (10**12 // 62) / 1e12
        assert [out[i].rank for i in (1, 2, 3, 4)] == [1, 2, 3, 4]

    def test_empty_rankings_raise(self, spark):
        from presto_ethereum_spark.operators.text import rrf_fuse

        with pytest.raises(ValueError):
            rrf_fuse([])


class TestPageRank:
    @staticmethod
    def _ref(pairs, iters=3, d=0.85):
        """Pure-Python replica of operators/graph.pagerank's exact arithmetic
        (fixed-point quantized contributions) — results must match Spark's
        doubles bit-for-bit."""
        import math

        scale = 1_000_000_000_000_000.0
        edges = set(pairs)
        nodes = sorted({s for s, _ in edges} | {t for _, t in edges})
        n = len(nodes)
        outdeg: dict[str, int] = {}
        for s, _ in edges:
            outdeg[s] = outdeg.get(s, 0) + 1
        rank = {v: 1.0 / n for v in nodes}
        q = 1.0 - d
        for _ in range(iters):
            sums = {v: 0 for v in nodes}
            for s, t in edges:
                sums[t] += math.floor(rank[s] / outdeg[s] * scale)
            rank = {v: q / n + d * (float(sums[v]) / scale) for v in nodes}
        return rank

    def _run(self, spark, pairs, **kw):
        from presto_ethereum_spark.operators.graph import pagerank

        df = spark.createDataFrame(
            [Row(src=a, dst=b) for a, b in pairs], "src string, dst string"
        )
        return {r.addr: r.rank for r in pagerank(df, **kw).collect()}

    def test_matches_reference_arithmetic_exactly(self, spark):
        pairs = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c")]
        assert self._run(spark, pairs) == self._ref(pairs)

    def test_sink_gains_hub_loses(self, spark):
        # c receives from 3 nodes, d receives nothing (pure source)
        got = self._run(spark, [("a", "c"), ("b", "c"), ("d", "c"), ("c", "a")])
        assert got["c"] == max(got.values())
        assert got["d"] == min(got.values())

    def test_dangling_mass_dropped_and_dup_edges_ignored(self, spark):
        # b has no out-edges: its mass vanishes (documented semantics), so
        # total rank < 1; duplicate edge (a,b) must count once (distinct)
        pairs = [("a", "b"), ("a", "b")]
        got = self._run(spark, pairs)
        assert got == self._ref([("a", "b")])
        assert sum(got.values()) < 1.0

    @staticmethod
    def _ref_redistribute(pairs, iters=3, d=0.85):
        """Pure-Python replica of the dangling='redistribute' arithmetic
        (fixed-point in-sums AND fixed-point dangling-mass scalar)."""
        import math

        scale = 1_000_000_000_000_000.0
        edges = set(pairs)
        nodes = sorted({s for s, _ in edges} | {t for _, t in edges})
        n = len(nodes)
        outdeg: dict[str, int] = {}
        for s, _ in edges:
            outdeg[s] = outdeg.get(s, 0) + 1
        dang = [v for v in nodes if v not in outdeg]
        rank = {v: 1.0 / n for v in nodes}
        q = 1.0 - d
        for _ in range(iters):
            dm = sum(math.floor(rank[v] * scale) for v in dang)
            sums = {v: 0 for v in nodes}
            for s, t in edges:
                sums[t] += math.floor(rank[s] / outdeg[s] * scale)
            rank = {
                v: q / n + d * (float(sums[v]) / scale + float(dm) / scale / n)
                for v in nodes
            }
        return rank

    def test_redistribute_matches_reference_arithmetic_exactly(self, spark):
        # b and e are dangling (no out-edges); e additionally HAS in-edges
        pairs = [("a", "b"), ("a", "c"), ("c", "a"), ("c", "e"), ("d", "e")]
        got = self._run(spark, pairs, dangling="redistribute")
        assert got == self._ref_redistribute(pairs)
        # mass is conserved up to quantization (the drop variant leaks it)
        assert abs(sum(got.values()) - 1.0) < 1e-9
        dropped = self._run(spark, pairs)
        assert sum(dropped.values()) < sum(got.values())

    def test_redistribute_equals_drop_without_dangling_nodes(self, spark):
        # every node has an out-edge -> D == 0 each iteration, so the two
        # variants must agree bit-for-bit
        pairs = [("a", "b"), ("b", "c"), ("c", "a")]
        assert self._run(spark, pairs, dangling="redistribute") == self._run(
            spark, pairs
        )

    def test_bad_dangling_mode_rejected(self, spark):
        import pytest as _pytest

        with _pytest.raises(ValueError, match="dangling"):
            self._run(spark, [("a", "b")], dangling="bogus")


class TestTopTerms:
    def test_df_counts_and_ties(self, spark):
        d = spark.createDataFrame(
            [
                Row(doc_id=1, text="apple banana apple"),
                Row(doc_id=2, text="banana cherry!"),
                Row(doc_id=3, text="Banana... 42"),
            ]
        )
        rows = text.top_terms(d, k=10).collect()
        got = {r.term: (r.df_docs, r.rank) for r in rows}
        # banana in all 3 docs (case-folded), apple once (distinct per doc)
        assert got["banana"][0] == 3 and got["banana"][1] == 1
        assert got["apple"][0] == 1
        # ties broken alphabetically: apple before cherry
        assert got["apple"][1] < got["cherry"][1]
        assert "42" not in got  # non-alpha never becomes a term


class TestQuantizeError:
    def test_constant_and_empty_vectors_zero_error(self, spark):
        d = spark.createDataFrame(
            [Row(vec_id=1, embedding=[0.5, 0.5, 0.5]), Row(vec_id=2, embedding=[])],
            "vec_id long, embedding array<float>",
        )
        out = {r.id: r.quant_mse for r in similarity.quantize_error(d).collect()}
        assert out == {1: 0.0, 2: 0.0}

    def test_error_bounded_by_half_step(self, spark):
        import random

        rng = random.Random(7)
        rows = [
            Row(vec_id=i, embedding=[rng.uniform(-1, 1) for _ in range(64)])
            for i in range(20)
        ]
        d = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        for r in similarity.quantize_error(d, levels=255).collect():
            # worst case per element is (step/2)^2 with step <= 2/255
            assert 0.0 <= r.quant_mse <= (2.0 / 255 / 2) ** 2 + 1e-12

    def test_more_levels_less_error(self, spark):
        d = spark.createDataFrame(
            [Row(vec_id=1, embedding=[0.05 * i for i in range(40)])],
            "vec_id long, embedding array<float>",
        )
        coarse = similarity.quantize_error(d, levels=15).collect()[0].quant_mse
        fine = similarity.quantize_error(d, levels=255).collect()[0].quant_mse
        assert fine < coarse


class TestFunnel:
    def test_order_enforced_and_progressive(self, spark):
        from presto_ethereum_spark.operators.temporal import funnel_counts

        rows = [
            # u1 completes the funnel in order
            Row(user_id=1, event_type="view", t_us=10),
            Row(user_id=1, event_type="click", t_us=20),
            Row(user_id=1, event_type="purchase", t_us=30),
            # u2 purchased BEFORE clicking: purchase must not count
            Row(user_id=2, event_type="purchase", t_us=5),
            Row(user_id=2, event_type="view", t_us=10),
            Row(user_id=2, event_type="click", t_us=20),
            # u3 clicked but never viewed: appears nowhere
            Row(user_id=3, event_type="click", t_us=10),
        ]
        out = {
            r.step: r.users
            for r in funnel_counts(
                spark.createDataFrame(rows), ["view", "click", "purchase"]
            ).collect()
        }
        assert out == {"view": 2, "click": 2, "purchase": 1}

    def test_same_timestamp_not_counted(self, spark):
        from presto_ethereum_spark.operators.temporal import funnel_counts

        rows = [
            Row(user_id=1, event_type="view", t_us=10),
            Row(user_id=1, event_type="click", t_us=10),  # strictly-after fails
        ]
        out = {
            r.step: r.users
            for r in funnel_counts(
                spark.createDataFrame(rows), ["view", "click"]
            ).collect()
        }
        assert out == {"view": 1, "click": 0}


class TestRetention:
    def test_offsets_and_distinct_users(self, spark):
        from presto_ethereum_spark.operators.temporal import retention_cohorts

        wk = 7 * 24 * 3600 * 1_000_000  # one week in micros
        base = 4 * 24 * 3600 * 1_000_000  # 1970-01-05 was a Monday
        rows = [
            Row(user_id=1, ts_micros=base),          # cohort week 0
            Row(user_id=1, ts_micros=base + 2 * wk), # active offset 2
            Row(user_id=1, ts_micros=base + 2 * wk + 60), # same week: distinct
            Row(user_id=2, ts_micros=base + 1),      # same cohort
        ]
        out = {
            (str(r.cohort_week), r.week_offset): r.active_users
            for r in retention_cohorts(spark.createDataFrame(rows)).collect()
        }
        assert out == {("1970-01-05", 0): 2, ("1970-01-05", 2): 1}


class TestPackSequences:
    @pytest.fixture(scope="class")
    def packed(self, spark):
        from presto_ethereum_spark.operators.sampling import pack_sequences

        rows = [
            Row(doc_id=i, text=" ".join(["w"] * (10 + 7 * (i % 13)))) for i in range(200)
        ]
        return pack_sequences(
            spark.createDataFrame(rows), budget=100, n_shards=4
        ).collect()

    def test_packs_contiguous_and_start_at_zero(self, packed):
        by_shard = {}
        for r in sorted(packed, key=lambda r: (r.shard, r.doc_id)):
            by_shard.setdefault(r.shard, []).append(r.pack_id)
        for ids in by_shard.values():
            assert ids[0] == 0
            for a, b in zip(ids, ids[1:]):
                assert b in (a, a + 1)  # nondecreasing, no gaps

    def test_boundary_semantics(self, packed):
        # each doc's pack is exactly floor(tokens-before-it / budget)
        cum = {}
        for r in sorted(packed, key=lambda r: (r.shard, r.doc_id)):
            before = cum.get(r.shard, 0)
            assert r.pack_id == before // 100
            cum[r.shard] = before + r.n_tokens

    def test_partition_invariant(self, spark):
        from presto_ethereum_spark.operators.sampling import pack_sequences

        rows = [Row(doc_id=i, text=" ".join(["w"] * (5 + i % 9))) for i in range(100)]
        df = spark.createDataFrame(rows)
        a = {(r.doc_id, r.shard, r.pack_id) for r in pack_sequences(df).collect()}
        b = {
            (r.doc_id, r.shard, r.pack_id)
            for r in pack_sequences(df.repartition(7)).collect()
        }
        assert a == b


class TestChunkDocuments:
    def test_overlap_and_coverage(self, spark):
        from presto_ethereum_spark.operators.text import chunk_documents

        txt = "".join(chr(ord("a") + i % 26) for i in range(1234))
        d = spark.createDataFrame([Row(doc_id=1, text=txt)])
        chunks = {
            r.chunk_id: r.chunk
            for r in chunk_documents(d, chunk_size=500, overlap=100).collect()
        }
        assert sorted(chunks) == [0, 1, 2, 3]
        # consecutive full chunks share exactly the overlap region; the last
        # chunk may be shorter than the overlap itself
        for i in (0, 1):
            assert chunks[i][-100:] == chunks[i + 1][:100]
        assert chunks[3] == txt[1200:] and chunks[2][400:434] == chunks[3]
        # stride-prefixes reconstruct the document with no gaps
        assert "".join(chunks[i][:400] for i in range(3)) + chunks[3] == txt

    def test_short_and_empty_docs(self, spark):
        from presto_ethereum_spark.operators.text import chunk_documents

        d = spark.createDataFrame(
            [Row(doc_id=1, text="tiny"), Row(doc_id=2, text="")]
        )
        rows = chunk_documents(d, chunk_size=500, overlap=100).collect()
        assert [(r.doc_id, r.chunk_id, r.chunk) for r in rows] == [(1, 0, "tiny")]

    def test_invalid_overlap_raises(self, spark):
        from presto_ethereum_spark.operators.text import chunk_documents

        with pytest.raises(ValueError):
            chunk_documents(spark.range(1), chunk_size=100, overlap=100)


class TestSaltedJoin:
    def test_equals_plain_join_under_skew(self, spark):
        from presto_ethereum_spark.operators.skew import salted_join

        # 90% of fact rows share one hot key
        fact = spark.createDataFrame(
            [Row(k=1 if i % 10 else i, v=i) for i in range(1000)]
        )
        dim = spark.createDataFrame([Row(k=i, name=f"d{i}") for i in range(1000)])
        salted = {(r.k, r.v, r.name) for r in salted_join(fact, dim, on="k").collect()}
        plain = {(r.k, r.v, r.name) for r in fact.join(dim, "k").collect()}
        assert salted == plain

    def test_duplicate_dim_keys_preserved(self, spark):
        from presto_ethereum_spark.operators.skew import salted_join

        fact = spark.createDataFrame([Row(k=1, v=10)])
        dim = spark.createDataFrame([Row(k=1, name="a"), Row(k=1, name="b")])
        out = sorted(r.name for r in salted_join(fact, dim, on="k").collect())
        assert out == ["a", "b"]


class TestLabelCentroids:
    def test_centroid_math_and_counts(self, spark):
        from presto_ethereum_spark.operators.similarity import label_centroids

        d = spark.createDataFrame(
            [
                Row(vec_id=1, embedding=[1.0, 0.0], label=0),
                Row(vec_id=2, embedding=[3.0, 2.0], label=0),
                Row(vec_id=3, embedding=[5.0, 5.0], label=1),
            ],
            "vec_id long, embedding array<float>, label int",
        )
        out = {(r.label, r.pos): r for r in label_centroids(d).collect()}
        assert out[(0, 0)].centroid_val == 2.0 and out[(0, 1)].centroid_val == 1.0
        assert out[(1, 0)].centroid_val == 5.0
        assert out[(0, 0)].n_vectors == 2 and out[(1, 1)].n_vectors == 1


class TestMaskPii:
    def test_masks_and_counts(self, spark):
        from presto_ethereum_spark.operators.text import mask_pii

        d = spark.createDataFrame(
            [
                Row(
                    doc_id=1,
                    text="mail a.user+tag@example.co.uk or call +1 (555) 123-4567 "
                    "from 192.168.0.1 today",
                ),
                Row(doc_id=2, text="no pii here at all"),
            ]
        )
        out = {r.doc_id: r for r in mask_pii(d).collect()}
        m = out[1].masked
        assert "[EMAIL]" in m and "[PHONE]" in m and "[IPV4]" in m
        assert "example.co.uk" not in m and "555" not in m and "192.168" not in m
        assert (out[1].n_email, out[1].n_phone, out[1].n_ipv4) == (1, 1, 1)
        assert out[2].masked == "no pii here at all"
        assert (out[2].n_email, out[2].n_phone, out[2].n_ipv4) == (0, 0, 0)

    def test_email_masked_before_phone_heuristic(self, spark):
        from presto_ethereum_spark.operators.text import mask_pii

        # digit-heavy address must not be double-counted as a phone
        d = spark.createDataFrame([Row(doc_id=1, text="reach 12345678901@mail.com now")])
        r = mask_pii(d).collect()[0]
        assert r.n_email == 1 and r.n_phone == 0 and "[EMAIL]" in r.masked


class TestPipelineProperties:
    """Deterministic property checks for the sampling/shuffle/repetition
    operators: the invariants a training pipeline actually relies on."""

    def test_repetition_fraction_bounds(self, spark):
        rows = [
            Row(doc_id=1, text="a a a a"),          # degenerate: one token type
            Row(doc_id=2, text="a b c d e"),         # all distinct
            Row(doc_id=3, text="x y x y x y"),       # perfectly periodic
        ]
        out = {
            r["doc_id"]: r
            for r in text.repetition_signals(spark.createDataFrame(rows)).collect()
        }
        for r in out.values():
            assert 0.0 <= r["dup_token_frac"] < 1.0
            assert 0.0 < r["top_token_frac"] <= 1.0
            assert 0.0 <= r["dup_bigram_frac"] < 1.0
        assert out[1]["top_token_frac"] == 1.0 and out[1]["dup_token_frac"] == 0.75
        assert out[2]["dup_token_frac"] == 0.0 and out[2]["top_token_frac"] == 0.2
        assert out[3]["dup_bigram_frac"] == 1 - 2 / 5  # "x y"*3, "y x"*2

    def test_negative_samples_never_anchor_always_in_range(self, spark):
        from presto_ethereum_spark.operators.sampling import negative_samples

        n, k = 97, 5
        d = spark.createDataFrame([Row(doc_id=i) for i in range(n)])
        out = negative_samples(d, k=k).collect()
        assert len(out) == n * k
        for r in out:
            assert 0 <= r["neg_id"] < n
            assert r["neg_id"] != r["anchor_id"]

    def test_corpus_shuffle_is_shardwise_permutation(self, spark):
        from presto_ethereum_spark.plans import battery

        out = battery.queries()["doc_corpus_shuffle"](
            spark, "/root/testdata/sf0.001"
        ).collect()
        by_shard: dict[int, list[int]] = {}
        for r in out:
            by_shard.setdefault(r["shard"], []).append(r["pos_in_shard"])
        assert sum(len(v) for v in by_shard.values()) == len(out)
        for shard, poss in by_shard.items():
            assert sorted(poss) == list(range(1, len(poss) + 1)), shard

    def test_char_diversity_bounds(self, spark):
        from presto_ethereum_spark.plans import battery

        out = battery.queries()["doc_char_diversity"](
            spark, "/root/testdata/sf0.001"
        ).collect()
        assert len(out) > 0
        for r in out:
            # Simpson index of k categories lies in [1/k, 1]
            assert 1.0 / r["distinct_chars"] <= r["simpson"] <= 1.0
            assert r["distinct_chars"] <= r["n_chars_total"]

    def test_kmeans_step_partitions_corpus(self, spark):
        from presto_ethereum_spark.plans import battery

        out = battery.queries()["emb_kmeans_step"](
            spark, "/root/testdata/sf0.001"
        ).collect()
        n_vecs = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).count()
        dims = {r["dim"] for r in out}
        assert dims == set(range(64))
        # every vector lands in exactly one cell: member counts per dim sum
        # to the corpus size
        for d in (0, 63):
            assert sum(r["n_members"] for r in out if r["dim"] == d) == n_vecs
        # a centroid coordinate is a mean of coords in [-1, 1]
        assert all(abs(r["coord"]) <= 1.0 for r in out)

    def test_prefix_dup_counts_cover_self(self, spark):
        from presto_ethereum_spark.plans import battery

        out = battery.queries()["doc_prefix_dup"](
            spark, "/root/testdata/sf0.001"
        ).collect()
        assert all(r["n_sharing"] >= 1 for r in out)
        assert len({r["doc_id"] for r in out}) == len(out)

    def test_pq_codes_shape_and_reconstruction(self, spark):
        from presto_ethereum_spark.plans import battery

        out = battery.queries()["emb_pq_codes"](
            spark, "/root/testdata/sf0.001"
        ).collect()
        n_vecs = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).count()
        assert len(out) == n_vecs * 8  # one row per (vector, subspace)
        assert {r["subspace"] for r in out} == set(range(8))
        assert all(0 <= r["code"] <= 3 for r in out)
        assert all(r["err2"] >= 0.0 for r in out)
        # a seed vector reconstructs itself exactly in every subspace
        seed_rows = [r for r in out if r["vec_id"] == 0]
        assert all(r["err2"] == 0.0 and r["code"] == 0 for r in seed_rows)

    def test_ivf_kernel_matches_expression_assign(self, spark):
        """The Arrow index kernel and the codebook-literal expression are
        two implementations of the same assignment — cells must agree
        bit-for-bit."""
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        cents = similarity.seed_centroids(emb, n_cells=4)
        expr_cells = {
            (r["vec_id"], r["cell"])
            for r in similarity.ivf_assign(emb, cents)
            .select("vec_id", "cell")
            .collect()
        }
        kern_cells = {
            (r["neighbor_id"], r["cell"])
            for r in similarity._ivf_corpus_index(emb, cents, "vec_id", "embedding")
            .select("neighbor_id", "cell")
            .collect()
        }
        assert expr_cells == kern_cells

    def test_lsh_kernel_matches_expression_signature(self, spark):
        """Kernel hyperplane signatures must equal the expression fold's
        (same dot accumulation -> same sign bits)."""
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        expr = {
            (r["vec_id"], r["sig"])
            for r in emb.select(
                "vec_id",
                similarity.hyperplane_signature(
                    F.col("embedding"), dim=64, bits=60
                ).alias("sig"),
            ).collect()
        }
        kern = {
            (r["id"], r["sig"])
            for r in similarity._lsh_index_kernel(emb, 64, 60, "vec_id", "embedding")
            .select("id", "sig")
            .collect()
        }
        assert expr == kern


class TestIvfPq:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def test_one_pass_index_equals_separate_kernels(self, emb):
        """ivfpq_index must reproduce _ivf_corpus_index's cells AND
        pq_codes' codes exactly — the composed one-pass build inherits
        both oracles."""
        cents = similarity.seed_centroids(emb, n_cells=4)
        sub_dim, n_sub = 8, 8
        codebooks = [
            [(code, cv[s * sub_dim : (s + 1) * sub_dim]) for code, (_, cv) in enumerate(cents)]
            for s in range(n_sub)
        ]
        combined = {
            (r["vec_id"], r["subspace"]): (r["cell"], r["code"])
            for r in similarity.ivfpq_index(emb, cents, codebooks, sub_dim).collect()
        }
        cells = {
            r["neighbor_id"]: r["cell"]
            for r in similarity._ivf_corpus_index(
                emb, cents, "vec_id", "embedding"
            ).collect()
        }
        codes = {
            (r["vec_id"], r["subspace"]): r["code"]
            for r in similarity.pq_codes(emb, codebooks, sub_dim).collect()
        }
        assert len(combined) == len(codes) > 0
        for (vid, s), (cell, code) in combined.items():
            assert cells[vid] == cell and codes[(vid, s)] == code

    def test_ivfpq_serving_recall(self, emb, spark):
        """End-to-end IVF+PQ serving recall vs exact truth — measured, not
        assumed: cell pruning (2/8 probed) AND 4-code product quantization
        both lose information; the composed index must still recover a
        useful fraction of true top-10 neighbors."""
        from presto_ethereum_spark.plans import battery

        truth = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.brute_force_topk(
                emb, emb.where("vec_id < 5"), k=10
            ).collect()
        }
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in battery.queries()["emb_ivfpq_topk"](
                spark, "/root/testdata/sf0.001"
            ).collect()
        }
        recall = len(truth & approx) / len(truth)
        # 4 codes x 8 subspaces is a deliberately TINY codebook (kept small
        # for closed-form oracle tractability): measured recall ~0.22 —
        # ~45x the k/N = 0.005 chance baseline.  Production codebooks
        # (256 codes) recall far higher; the pin here is "the composed
        # index carries real signal", not a quality target.
        assert recall >= 0.15, f"IVF+PQ recall too low: {recall:.3f}"


class TestMinhashEstimator:
    def test_signature_agreement_tracks_jaccard(self, spark):
        """The affine family's collision rate must TRACK true Jaccard
        (the property the docstring's slope-range tradeoff note claims
        survives): over controlled-overlap doc pairs, mean |estimate −
        exact| stays within the 16-hash binomial noise envelope.  This
        measures the estimator the int64-safe family actually provides,
        rather than assuming the textbook bound."""
        from pyspark.sql import Row

        words = [f"w{i:03d}" for i in range(64)]
        rows = []
        # doc 2k keeps a prefix of words, doc 2k+1 overlaps it by ~frac
        for k, frac in enumerate([0.2, 0.4, 0.6, 0.8, 1.0]):
            n = 40
            shared = int(n * frac)
            a = words[:n]
            b = words[:shared] + [f"x{k}_{i}" for i in range(n - shared)]
            rows.append(Row(doc_id=2 * k, text=" ".join(a)))
            rows.append(Row(doc_id=2 * k + 1, text=" ".join(b)))
        d = spark.createDataFrame(rows)
        sigs = {
            r["doc_id"]: list(r["s"])
            for r in d.select(
                "doc_id", dedup.minhash_signature(F.col("text")).alias("s")
            ).collect()
        }
        exact = {
            (r["id_a"], r["id_b"]): r["j"]
            for r in d.alias("a")
            .join(d.alias("b"), F.col("a.doc_id") + 1 == F.col("b.doc_id"))
            .where(F.col("a.doc_id") % 2 == 0)
            .select(
                F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"),
                dedup.jaccard(F.col("a.text"), F.col("b.text")).alias("j"),
            )
            .collect()
        }
        errs = []
        for (ia, ib), j in exact.items():
            est = sum(
                x == y for x, y in zip(sigs[ia], sigs[ib])
            ) / len(sigs[ia])
            errs.append(abs(est - j))
        # binomial std at n=16 is <= 0.125; mean error across 5 pairs
        # comfortably under 2 sigma
        assert sum(errs) / len(errs) <= 0.25, errs


class TestTriangles:
    def _g(self, spark, edges):
        return spark.createDataFrame(
            [Row(src=a, dst=b) for a, b in edges], "src long, dst long"
        )

    def test_k4_has_four_triangles(self, spark):
        from presto_ethereum_spark.operators import graph

        k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
        tri = graph.triangles(self._g(spark, k4)).collect()
        assert len(tri) == 4
        assert all(r["x"] < r["y"] < r["z"] for r in tri)
        # participation: each of the 4 nodes sits in C(3,2)=3 triangles
        part = graph.triangle_participation(self._g(spark, k4)).collect()
        assert {r["n"]: r["n_triangles"] for r in part} == {i: 3 for i in range(4)}

    def test_star_plus_rim_edge(self, spark):
        from presto_ethereum_spark.operators import graph

        # hub 0 to 5 leaves (no triangles), then close one rim edge (1,2)
        edges = [(0, i) for i in range(1, 6)] + [(1, 2)]
        tri = graph.triangles(self._g(spark, edges)).collect()
        assert [(r["x"], r["y"], r["z"]) for r in tri] == [(0, 1, 2)]

    def test_direction_duplicates_and_self_loops_ignored(self, spark):
        from presto_ethereum_spark.operators import graph

        edges = [(0, 1), (1, 0), (1, 2), (2, 0), (0, 0), (1, 1), (0, 1)]
        tri = graph.triangles(self._g(spark, edges)).collect()
        assert [(r["x"], r["y"], r["z"]) for r in tri] == [(0, 1, 2)]

    def test_string_node_ids(self, spark):
        from presto_ethereum_spark.operators import graph

        g = spark.createDataFrame(
            [Row(src=a, dst=b) for a, b in [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")]]
        )
        tri = graph.triangles(g).collect()
        assert [(r["x"], r["y"], r["z"]) for r in tri] == [("a", "b", "c")]


class TestMMR:
    def test_first_pick_is_top_sim_and_diversity_wins_second(self, spark):
        from presto_ethereum_spark.operators import similarity

        # q at e1; c1 ~ e1 (sim .99), c2 = c1-ish clone, c3 orthogonal-ish.
        # Plain top-3 orders c1, c2, c3; MMR must pick the diverse c3 second.
        rows = [
            Row(vec_id=100, embedding=[1.0, 0.0, 0.0]),       # query
            Row(vec_id=1, embedding=[0.99, 0.14, 0.0]),
            Row(vec_id=2, embedding=[0.99, 0.141, 0.0]),      # near-clone of 1
            Row(vec_id=3, embedding=[0.5, 0.0, 0.87]),
        ]
        df = spark.createDataFrame(rows)
        out = similarity.mmr_rerank(
            df, df.where("vec_id = 100"), k=3, pool=3, lam=0.5
        ).collect()
        picks = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["mmr_rank"])]
        assert picks[0] == 1          # highest relevance (ties to lower id)
        assert picks[1] == 3          # diversity beats the clone
        assert set(picks) == {1, 2, 3}

    def test_rank_contract_and_determinism(self, spark):
        from presto_ethereum_spark.operators import similarity

        import random

        rnd = random.Random(7)
        rows = [
            Row(vec_id=i, embedding=[rnd.uniform(-1, 1) for _ in range(8)])
            for i in range(30)
        ]
        df = spark.createDataFrame(rows).repartition(5)
        a = similarity.mmr_rerank(df, df.where("vec_id < 2"), k=4, pool=10)
        b = similarity.mmr_rerank(df, df.where("vec_id < 2"), k=4, pool=10)
        ra = sorted(map(tuple, a.collect()))
        rb = sorted(map(tuple, b.collect()))
        assert ra == rb
        by_q = {}
        for qid, nid, rank, score in ra:
            by_q.setdefault(qid, []).append(rank)
        assert all(sorted(v) == [1, 2, 3, 4] for v in by_q.values())


class TestScd2:
    def test_change_compression_and_intervals(self, spark):
        from presto_ethereum_spark.operators import temporal

        ev = spark.createDataFrame(
            [
                Row(uid=1, t=10, a="x", eid=0),
                Row(uid=1, t=20, a="x", eid=1),   # repeat -> same version
                Row(uid=1, t=30, a="y", eid=2),   # change
                Row(uid=1, t=40, a="x", eid=3),   # change back -> new version
                Row(uid=2, t=5, a="z", eid=4),
            ]
        )
        out = temporal.scd2_build(
            ev, key_col="uid", time_col="t", attr_col="a", tiebreak_col="eid"
        ).collect()
        got = {
            (r["key"], r["version"]): (r["attr"], r["valid_from"], r["valid_to"])
            for r in out
        }
        assert got == {
            (1, 0): ("x", 10, 30),
            (1, 1): ("y", 30, 40),
            (1, 2): ("x", 40, None),
            (2, 0): ("z", 5, None),
        }

    def test_simultaneous_events_tiebreak(self, spark):
        from presto_ethereum_spark.operators import temporal

        ev = spark.createDataFrame(
            [Row(uid=1, t=10, a="b", eid=1), Row(uid=1, t=10, a="a", eid=0)]
        )
        out = temporal.scd2_build(
            ev, key_col="uid", time_col="t", attr_col="a", tiebreak_col="eid"
        ).collect()
        got = sorted((r["version"], r["attr"]) for r in out)
        assert got == [(0, "a"), (1, "b")]


class TestCapByBudget:
    def test_prefix_cut_exact(self, spark):
        from presto_ethereum_spark.operators import sampling

        d = spark.createDataFrame(
            [Row(s="a", k=i, cost=40) for i in range(5)]
            + [Row(s="b", k=i, cost=200) for i in range(5, 8)]
        )
        out = sampling.cap_by_budget(
            d, strata="s", key="k", cost_col="cost", budget=100
        ).collect()
        kept = {r["s"]: sum(r2["kept"] for r2 in out if r2["s"] == r["s"]) for r in out}
        assert kept["a"] == 2      # 40+40 <= 100, third would be 120
        assert kept["b"] == 0      # first item alone overflows

    def test_deterministic_under_repartition(self, spark):
        from presto_ethereum_spark.operators import sampling

        d = spark.createDataFrame([Row(s="x", k=i, cost=10 + i) for i in range(50)])
        a = sampling.cap_by_budget(d, "s", "k", "cost", 300).collect()
        b = sampling.cap_by_budget(d.repartition(7), "s", "k", "cost", 300).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))


class TestSubstringDup:
    def test_shared_long_run_detected_exact(self, spark):
        # anchor=1: every window checked -> any shared run >= k tokens is
        # detected regardless of its offset in either document
        shared = " ".join(f"w{i}" for i in range(12))
        d = spark.createDataFrame(
            [
                Row(doc_id=0, text="intro words here " + shared),
                Row(doc_id=1, text=shared + " totally different tail text"),
                Row(doc_id=2, text="no overlap with anything else at all ok"),
                Row(doc_id=3, text="tiny"),
            ]
        )
        out = {
            r["doc_id"]: r
            for r in dedup.substring_duplicates(d, k=8, anchor=1).collect()
        }
        assert out[0]["n_dup_windows"] == 5 and out[1]["n_dup_windows"] == 5
        assert out[2]["n_dup_windows"] == 0
        assert out[3]["n_windows"] == 0 and out[3]["dup_frac"] == 0.0

    def test_anchoring_is_alignment_free(self, spark):
        # the same run at offsets of DIFFERENT parity: a position stride
        # of 2 would sample disjoint window sets and miss the dup; content
        # anchoring keeps exactly the same windows of the run in both docs
        shared = " ".join(f"w{i}" for i in range(20))
        d = spark.createDataFrame(
            [
                Row(doc_id=0, text="pad " + shared),          # run at offset 2
                Row(doc_id=1, text=shared + " other stuff"),  # run at offset 1
            ]
        )
        out = {
            r["doc_id"]: r
            for r in dedup.substring_duplicates(d, k=8, anchor=2).collect()
        }
        # anchored subset of the run's windows is content-determined ->
        # identical in both docs; the run is long enough that at least one
        # of its 13 windows anchors (verified: this content does)
        assert out[0]["n_dup_windows"] == out[1]["n_dup_windows"] > 0

    def test_short_run_below_k_missed(self, spark):
        shared = " ".join(f"s{i}" for i in range(7))  # < k = 8
        d = spark.createDataFrame(
            [
                Row(doc_id=0, text="a b " + shared),
                Row(doc_id=1, text=shared + " x y z q r s t u v"),
            ]
        )
        out = {
            r["doc_id"]: r
            for r in dedup.substring_duplicates(d, k=8, anchor=1).collect()
        }
        assert out[0]["n_dup_windows"] == 0


class TestSnapshotDiff:
    def test_classification_and_null_transitions(self, spark):
        from presto_ethereum_spark.operators import temporal

        old = spark.createDataFrame(
            [Row(k=1, v=10), Row(k=2, v=None), Row(k=3, v=30), Row(k=4, v=40)]
        )
        new = spark.createDataFrame(
            [Row(k=1, v=10), Row(k=2, v=20), Row(k=3, v=None), Row(k=5, v=50)]
        )
        out = {
            r["k"]: (r["change"], r["old_v"], r["new_v"])
            for r in temporal.snapshot_diff(old, new, ["k"], ["v"]).collect()
        }
        assert out == {
            2: ("update", None, 20),   # NULL -> value counts as update
            3: ("update", 30, None),   # value -> NULL counts as update
            4: ("delete", 40, None),
            5: ("insert", None, 50),
        }
        assert 1 not in out  # unchanged keys are dropped


class TestHeavyHitters:
    def test_equals_naive_groupby_on_skew(self, spark):
        from presto_ethereum_spark.operators import frequency

        # 3 heavy values among a long distinct tail, spread over partitions
        rows = (
            [Row(v="hot1")] * 300
            + [Row(v="hot2")] * 150
            + [Row(v="hot3")] * 80
            + [Row(v=f"tail{i}") for i in range(5000)]
        )
        df = spark.createDataFrame(rows).repartition(13)
        got = {
            (r["value"], r["n"])
            for r in frequency.heavy_hitters(df, "v", threshold_frac=0.01).collect()
        }
        n_total = len(rows)
        exact = {
            (r["v"], r["n"])
            for r in df.groupBy("v").agg(F.count("*").alias("n"))
            .where(F.col("n") > int(n_total * 0.01))
            .collect()
        }
        assert got == exact and len(got) >= 2

    def test_threshold_is_strict_floor(self, spark):
        from presto_ethereum_spark.operators import frequency

        # 100 rows, frac 0.05 -> floor = 5: a value with exactly 5 is out,
        # 6 is in
        rows = [Row(v="five")] * 5 + [Row(v="six")] * 6 + [
            Row(v=f"x{i}") for i in range(89)
        ]
        out = {r["value"] for r in frequency.heavy_hitters(
            spark.createDataFrame(rows).repartition(4), "v", 0.05
        ).collect()}
        assert out == {"six"}

    def test_all_distinct_empty(self, spark):
        from presto_ethereum_spark.operators import frequency

        df = spark.createDataFrame([Row(v=f"u{i}") for i in range(200)])
        assert frequency.heavy_hitters(df, "v", 0.02).count() == 0


class TestImportanceWeights:
    def test_target_like_docs_score_higher(self, spark):
        from presto_ethereum_spark.operators import text as T

        rows = [
            Row(doc_id=0, src="tgt", text="alpha beta alpha beta"),
            Row(doc_id=1, src="other", text="alpha beta beta alpha"),  # target-like
            Row(doc_id=2, src="other", text="gamma delta gamma delta"),
        ]
        df = spark.createDataFrame(rows)
        out = {
            r["doc_id"]: r
            for r in T.importance_weights(
                df, target=F.col("src") == "tgt"
            ).collect()
        }
        # doc 1 shares the target's vocabulary; doc 2 shares nothing
        assert out[1]["importance_score"] > out[2]["importance_score"]
        assert out[1]["n_tokens"] == out[2]["n_tokens"] == 4

    def test_deterministic_integer_scores(self, spark):
        from presto_ethereum_spark.operators import text as T

        df = spark.createDataFrame(
            [Row(doc_id=i, src="tgt" if i % 3 == 0 else "o",
                 text=f"tok{i % 5} tok{i % 7} common") for i in range(60)]
        )
        a = sorted(map(tuple, T.importance_weights(df, F.col("src") == "tgt").collect()))
        b = sorted(map(tuple, T.importance_weights(
            df.repartition(9), F.col("src") == "tgt").collect()))
        assert a == b


class TestKCore:
    def _g(self, spark, edges):
        return spark.createDataFrame(
            [Row(src=a, dst=b) for a, b in edges], "src long, dst long"
        )

    def test_clique_with_tail_peels_tail(self, spark):
        from presto_ethereum_spark.operators import graph

        # K4 on {0,1,2,3} plus a pendant chain 3-10-11: the chain must peel
        # away entirely for k=2 (10 keeps degree 2 only while 11 survives)
        k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
        edges = k4 + [(3, 10), (10, 11)]
        out = {r["n"]: r["deg"] for r in graph.k_core(self._g(spark, edges), k=2).collect()}
        assert out == {0: 3, 1: 3, 2: 3, 3: 3}

    def test_k3_of_two_triangles_sharing_edge(self, spark):
        from presto_ethereum_spark.operators import graph

        # two triangles sharing edge (1,2): nodes 0 and 3 have degree 2 ->
        # no 3-core at all (peeling cascades)
        edges = [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3)]
        assert graph.k_core(self._g(spark, edges), k=3).count() == 0

    def test_whole_graph_is_its_own_1core(self, spark):
        from presto_ethereum_spark.operators import graph

        edges = [(0, 1), (2, 3), (4, 5)]
        out = graph.k_core(self._g(spark, edges), k=1).collect()
        assert {r["n"] for r in out} == {0, 1, 2, 3, 4, 5}


class TestColumnStats:
    def test_one_pass_stats_with_nulls(self, spark):
        from presto_ethereum_spark.operators import stats

        df = spark.createDataFrame(
            [Row(a=1, s="x"), Row(a=2, s="y"), Row(a=None, s="x"), Row(a=2, s=None)]
        )
        out = {r["col_name"]: r for r in stats.column_stats(df).collect()}
        assert out["a"]["n_rows"] == 4 and out["a"]["n_nulls"] == 1
        assert out["a"]["ndv_exact"] == 2 and out["a"]["ndv_ok"] == 1
        assert out["a"]["min_num"] == 1.0 and out["a"]["max_num"] == 2.0
        assert out["a"]["min_str"] is None
        assert out["s"]["min_str"] == "x" and out["s"]["max_str"] == "y"
        assert out["s"]["min_num"] is None

    def test_scan_count_bounded_by_two_passes(self, spark):
        from presto_ethereum_spark.operators import stats

        df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        plan = (
            stats.column_stats(df, cols=["o_orderkey", "o_orderstatus"])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # exactly TWO scans regardless of column count: the sketch/min/max
        # hash-aggregate pass and the exact-distinct (Expand) referee pass
        # -- never a scan per column.  Production drops the referee and is
        # back to one.
        assert plan.count("FileScan") == 2


class TestReviewFixes:
    def test_kcore_raises_on_nonconvergence(self, spark):
        from presto_ethereum_spark.operators import graph

        path = spark.createDataFrame(
            [Row(src=i, dst=i + 1) for i in range(10)], "src long, dst long"
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            graph.k_core(path, k=2, max_iter=2)

    def test_snapshot_diff_presence_only(self, spark):
        from presto_ethereum_spark.operators import temporal

        old = spark.createDataFrame([Row(k=1), Row(k=2)])
        new = spark.createDataFrame([Row(k=2), Row(k=3)])
        out = {(r["k"], r["change"]) for r in
               temporal.snapshot_diff(old, new, ["k"], []).collect()}
        assert out == {(1, "delete"), (3, "insert")}

    def test_mmr_rejects_non_integral_ids(self, spark):
        from presto_ethereum_spark.operators import similarity

        df = spark.createDataFrame(
            [Row(vec_id="a", embedding=[1.0, 0.0])]
        )
        with pytest.raises(ValueError, match="integral"):
            similarity.mmr_rerank(df, df, k=1, pool=1)


class TestDeltaDedup:
    def test_only_cross_shard_pairs_reported(self, spark):
        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        old = spark.createDataFrame(
            [
                Row(doc_id=1, text=base),
                Row(doc_id=2, text=base),  # old-old dup: must NOT be reported
                Row(doc_id=3, text="totally different old content here now ok"),
            ]
        )
        new = spark.createDataFrame(
            [
                Row(doc_id=10, text=base),                      # dup of old
                Row(doc_id=11, text=base.replace("zeta", "zz")),  # near-dup
                Row(doc_id=12, text="fresh unseen words entirely novel stuff"),
                Row(doc_id=13, text=base),                      # new-new dup with 10: not reported
            ]
        )
        out = dedup.delta_dup_pairs(old, new, threshold=0.5).collect()
        pairs = {(r["new_id"], r["old_id"]) for r in out}
        assert (10, 1) in pairs and (10, 2) in pairs
        assert (13, 1) in pairs  # every new dup checks against the corpus
        assert all(r["new_id"] >= 10 and r["old_id"] < 10 for r in out)
        assert 12 not in {p[0] for p in pairs}
        for r in out:
            assert 0.0 <= r["jaccard_sim"] <= 1.0


class TestZOrder:
    def test_known_interleave_values(self, spark):
        from presto_ethereum_spark.operators import layout

        df = spark.createDataFrame(
            [Row(a=0, b=0), Row(a=1, b=0), Row(a=0, b=1), Row(a=3, b=5)]
        )
        out = df.select("a", "b", layout.z_order_key(["a", "b"], bits=4).alias("z")).collect()
        got = {(r["a"], r["b"]): r["z"] for r in out}

        def ref(a, b):
            z = 0
            for i in range(4):
                z |= ((a >> i) & 1) << (2 * i)
                z |= ((b >> i) & 1) << (2 * i + 1)
            return z

        assert got == {(a, b): ref(a, b) for a, b in [(0, 0), (1, 0), (0, 1), (3, 5)]}

    def test_negative_dimension_nulls_key(self, spark):
        """Arithmetic shiftright on a negative long would interleave
        sign-extension garbage; the key must be NULL instead, never a
        silently-wrong interleave."""
        from presto_ethereum_spark.operators import layout

        df = spark.createDataFrame([Row(a=-1, b=3), Row(a=2, b=3)])
        out = {
            r["a"]: r["z"]
            for r in df.select(
                "a", layout.z_order_key(["a", "b"], bits=4).alias("z")
            ).collect()
        }
        assert out[-1] is None and out[2] is not None

    def test_write_zordered_preserves_existing_underscore_z(self, spark, tmp_path):
        from presto_ethereum_spark.operators import layout

        df = spark.createDataFrame([Row(a=1, b=2, _z="keep"), Row(a=3, b=4, _z="me")])
        zp = str(tmp_path / "zc")
        layout.write_zordered(df, zp, ["a", "b"], bits=4, n_files=2)
        back = spark.read.parquet(zp)
        assert sorted(r["_z"] for r in back.collect()) == ["keep", "me"]

    def test_zorder_write_bounds_both_dims(self, spark, tmp_path):
        """Files written z-ordered must have MUCH tighter per-file spans on
        the second dimension than files sorted by the first dimension only
        (the whole point of interleaving)."""
        import itertools

        from presto_ethereum_spark.operators import layout

        rows = [Row(a=a, b=b) for a, b in itertools.product(range(64), range(64))]
        df = spark.createDataFrame(rows)
        zp = str(tmp_path / "z")
        layout.write_zordered(df, zp, ["a", "b"], bits=6, n_files=16)
        import pyarrow.parquet as pq
        import glob
        import statistics

        spans = []
        for f in glob.glob(f"{zp}/part-*.parquet"):
            t = pq.read_table(f)
            if t.num_rows == 0:
                continue
            bs = t.column("b").to_pylist()
            spans.append(max(bs) - min(bs))
        # a pure a-sort gives every file the full b span (63); z-order
        # keeps files in compact rectangles
        assert statistics.mean(spans) < 40
        back = spark.read.parquet(zp)
        assert back.count() == 64 * 64


class TestBigramFluency:
    def test_hand_computed_scores(self, spark):
        from presto_ethereum_spark.operators.text import bigram_fluency

        df = spark.createDataFrame(
            [(1, "a b a b"), (2, "a b"), (3, "x"), (4, "c c")],
            "doc_id long, text string",
        )
        # corpus bigrams: (a,b)x3 (docs 1+2), (b,a)x1, (c,c)x1;
        # heads c1: a:3, b:1, c:1; vocab {a,b,x,c} -> V=4
        # contrib(a,b) = (3+1)*1e6 // (3+4) = 571428
        # contrib(b,a) = (1+1)*1e6 // (1+4) = 400000
        # contrib(c,c) = (1+1)*1e6 // (1+4) = 400000
        out = {r["doc_id"]: r for r in bigram_fluency(df).collect()}
        assert out[1]["n_bigrams"] == 3
        assert out[1]["fluency_score"] == 571428 + 400000 + 571428
        assert out[2]["fluency_score"] == 571428
        assert out[3]["n_bigrams"] == 0 and out[3]["fluency_score"] is None
        assert out[4]["fluency_score"] == 400000
        assert out[2]["avg_prob_e6"] == 571428
        # 1542856 / 3 = 514285.33… -> half-up 514285
        assert out[1]["avg_prob_e6"] == 514285
        assert out[3]["avg_prob_e6"] is None

    def test_avg_prob_half_up_tie(self, spark):
        # the r5 sf0.1 divergence class: score/n landing exactly on .5
        # must round half-up identically in Spark and DuckDB. 442127/14
        # = 31580.5 exactly (the real failing doc's numbers).
        import duckdb

        expr = spark.sql(
            "SELECT (2 * 442127 + 14) DIV (2 * 14) AS e6"
        ).collect()[0]["e6"]
        oracle = duckdb.sql(
            "SELECT (2 * 442127 + 14) // (2 * 14) AS e6"
        ).fetchone()[0]
        assert expr == oracle == 31581

    def test_partitioning_invariance(self, spark):
        from presto_ethereum_spark.operators.text import bigram_fluency

        df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        a = sorted(map(tuple, bigram_fluency(df).collect()))
        b = sorted(map(tuple, bigram_fluency(df.repartition(13)).collect()))
        assert a == b and len(a) > 0


class TestCurriculumInterleave:
    def test_buckets_cover_and_interleave(self, spark):
        from presto_ethereum_spark.operators.sampling import curriculum_interleave

        df = spark.createDataFrame(
            [(i, float(i % 5)) for i in range(20)], "doc_id long, score double"
        )
        out = curriculum_interleave(df, "score", "doc_id", n_buckets=5).collect()
        assert len(out) == 20
        by_bucket = {}
        for r in out:
            by_bucket.setdefault(r["bucket"], []).append(r["slot"])
        # 5 score values x 4 rows -> each bucket holds exactly one score's rows
        assert sorted(by_bucket) == [0, 1, 2, 3, 4]
        assert all(sorted(v) == [1, 2, 3, 4] for v in by_bucket.values())
        # bucket 0 is the HIGHEST score (curriculum: hardest first slot-wise)
        score_of = {r["bucket"]: r["score"] for r in out}
        assert score_of[0] == 4.0 and score_of[4] == 0.0

    def test_ties_share_bucket_and_determinism(self, spark):
        from presto_ethereum_spark.operators.sampling import curriculum_interleave

        df = spark.createDataFrame(
            [(i, 1.0 if i < 9 else 2.0) for i in range(10)],
            "doc_id long, score double",
        )
        out = curriculum_interleave(df, "score", "doc_id", n_buckets=4)
        rows = out.collect()
        # the 9-way tie cannot split: all score-1.0 rows share one bucket
        assert len({r["bucket"] for r in rows if r["score"] == 1.0}) == 1
        again = sorted(map(tuple, curriculum_interleave(
            df.repartition(7), "score", "doc_id", n_buckets=4).collect()))
        assert sorted(map(tuple, rows)) == again

    def test_bad_buckets_rejected(self, spark):
        import pytest as _pytest

        from presto_ethereum_spark.operators.sampling import curriculum_interleave

        df = spark.createDataFrame([(1, 1.0)], "doc_id long, score double")
        with _pytest.raises(ValueError, match="n_buckets"):
            curriculum_interleave(df, "score", "doc_id", n_buckets=0)


class TestBpeTrain:
    @staticmethod
    def _ref(corpus, n_merges):
        """Pure-Python Sennrich BPE on whitespace words with (count desc,
        left, right) tie-break — must match the Spark trainer exactly."""
        from collections import Counter

        words = Counter(w for text in corpus for w in text.split(" ") if w)
        syms = {w: list(w) for w in words}
        out = []
        for rank in range(n_merges):
            pairs = Counter()
            for w, c in words.items():
                sy = syms[w]
                for a, b in zip(sy, sy[1:]):
                    pairs[(a, b)] += c
            if not pairs:
                break
            (l, r), cnt = min(
                pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            out.append((rank, l, r, cnt))
            for w, sy in syms.items():
                new = []
                for sym in sy:
                    if new and new[-1] == l and sym == r:
                        new[-1] = l + r
                    else:
                        new.append(sym)
                syms[w] = new
        return out

    def test_matches_python_reference_exactly(self, spark):
        from presto_ethereum_spark.operators.text import bpe_train

        corpus = [
            "low low low lower lowest",
            "new newer newest low",
            "wide wider widest",
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
        )
        got = [
            (r["merge_rank"], r["left"], r["right"], r["pair_count"])
            for r in bpe_train(df, n_merges=8).orderBy("merge_rank").collect()
        ]
        assert got == self._ref(corpus, 8)
        assert len(got) == 8

    def test_nonoverlapping_merge_semantics(self, spark):
        # 'a a a a' (chars "aaaa") -> pair (a,a) merges non-overlapping:
        # round 1 yields [aa, aa], count 3 (BPE counts all adjacent pairs)
        from presto_ethereum_spark.operators.text import bpe_train

        df = spark.createDataFrame([(1, "aaaa aaaa")], "doc_id long, text string")
        got = [
            (r["left"], r["right"], r["pair_count"])
            for r in bpe_train(df, n_merges=2).orderBy("merge_rank").collect()
        ]
        assert got == [(l, r, c) for _, l, r, c in self._ref(["aaaa aaaa"], 2)]
        assert got[0] == ("a", "a", 6)  # 3 adjacent pairs x 2 occurrences
        assert got[1] == ("aa", "aa", 2)  # merged symbols pair up next

    def test_exhausted_vocabulary_stops_early(self, spark):
        from presto_ethereum_spark.operators.text import bpe_train

        df = spark.createDataFrame([(1, "ab ab")], "doc_id long, text string")
        out = bpe_train(df, n_merges=10).collect()
        assert len(out) == 1  # after merging a+b every word is one symbol

    def test_partitioning_invariance(self, spark):
        from presto_ethereum_spark.operators.text import bpe_train

        df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        a = sorted(map(tuple, bpe_train(df, n_merges=3).collect()))
        b = sorted(map(tuple, bpe_train(df.repartition(11), n_merges=3).collect()))
        assert a == b and len(a) == 3


class TestBpeApply:
    @staticmethod
    def _apply_ref(word, merges):
        """Canonical rank-priority BPE inference (the GPT-2/HF algorithm)."""
        ranks = {p: i for i, p in enumerate(merges)}
        sy = list(word)
        while len(sy) > 1:
            best, best_i = None, -1
            for i, pair in enumerate(zip(sy, sy[1:])):
                rk = ranks.get(pair)
                if rk is not None and (best is None or rk < best):
                    best, best_i = rk, i
            if best is None:
                break
            sy[best_i : best_i + 2] = [sy[best_i] + sy[best_i + 1]]
        return sy

    def test_counts_match_reference(self, spark):
        from presto_ethereum_spark.operators.text import bpe_apply, bpe_train

        corpus = ["low low lower lowest", "new newer newest low"]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
        )
        rules_df = bpe_train(df, n_merges=5)
        merges = [
            (r["left"], r["right"])
            for r in rules_df.orderBy("merge_rank").collect()
        ]
        got = {
            r["doc_id"]: (r["n_words"], r["n_subwords"])
            for r in bpe_apply(df, rules_df).collect()
        }
        for i, text in enumerate(corpus):
            ws = [w for w in text.split(" ") if w]
            want = sum(len(self._apply_ref(w, merges)) for w in ws)
            assert got[i] == (len(ws), want)

    def test_zero_rules_yields_char_counts(self, spark):
        from presto_ethereum_spark.operators.text import bpe_apply

        df = spark.createDataFrame([(1, "ab cde")], "doc_id long, text string")
        [r] = bpe_apply(df, []).collect()
        assert (r["n_words"], r["n_subwords"]) == (2, 5)

    def test_rule_order_is_priority_not_listing(self, spark):
        # rules [(a,b), (ab,c)] on "abc": r0 -> [ab, c]; r1 -> [abc].
        # With the rules REVERSED, (ab,c) can never fire before (a,b)
        # exists... but rank priority still applies (a,b) first (it has
        # lower rank in its own list), so both lists end at 1 token only
        # when the chain is rank-ordered.
        from presto_ethereum_spark.operators.text import bpe_apply

        df = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
        [chained] = bpe_apply(df, [("a", "b"), ("ab", "c")]).collect()
        assert chained["n_subwords"] == 1
        [broken] = bpe_apply(df, [("ab", "c"), ("a", "b")]).collect()
        # (ab,c) has rank 0 but can only fire after (a,b) merges -> fine:
        # after (a,b) applies, (ab,c) is present and merges too
        assert broken["n_subwords"] == 1


class TestCurriculumNullScores:
    def test_null_scores_keep_rows_in_last_bucket(self, spark):
        from presto_ethereum_spark.operators.sampling import curriculum_interleave

        df = spark.createDataFrame(
            [(1, 3.0), (2, 2.0), (3, None), (4, 1.0)],
            "doc_id long, score double",
        )
        out = {r["doc_id"]: r for r in
               curriculum_interleave(df, "score", "doc_id", n_buckets=4).collect()}
        assert sorted(out) == [1, 2, 3, 4]  # nothing dropped
        # unknown difficulty sorts after every known score
        assert out[3]["bucket"] == max(r["bucket"] for r in out.values())

    def test_existing_temp_column_names_survive(self, spark):
        from presto_ethereum_spark.operators.sampling import curriculum_interleave

        df = spark.createDataFrame(
            [(1, 1.0, "keep"), (2, 2.0, "me")],
            "doc_id long, score double, _cs string",
        )
        out = curriculum_interleave(df, "score", "doc_id", n_buckets=2)
        assert sorted(r["_cs"] for r in out.collect()) == ["keep", "me"]


class TestKAnonymity:
    def test_class_sizes_and_flag(self, spark):
        from presto_ethereum_spark.operators.text import k_anonymity

        df = spark.createDataFrame(
            [("en", "web"), ("en", "web"), ("en", "web"), ("de", "web"), ("en", "book")],
            "lang string, source string",
        )
        out = {(r["lang"], r["source"]): (r["class_size"], r["k_anonymous"])
               for r in k_anonymity(df, ["lang", "source"], k=3).collect()}
        assert out == {
            ("en", "web"): (3, True),
            ("de", "web"): (1, False),
            ("en", "book"): (1, False),
        }

    def test_validation(self, spark):
        from presto_ethereum_spark.operators.text import k_anonymity

        df = spark.createDataFrame([("en",)], "lang string")
        with pytest.raises(ValueError, match="quasi"):
            k_anonymity(df, [], k=2)
        with pytest.raises(ValueError, match="k must"):
            k_anonymity(df, ["lang"], k=0)


class TestAsofNearest:
    def test_hand_computed(self, spark):
        from presto_ethereum_spark.operators.temporal import asof_join

        left = spark.createDataFrame(
            [(1, 10, "t10"), (1, 95, "t95"), (1, 150, "t150"), (2, 50, "only")],
            "k long, t long, tag string",
        )
        right = spark.createDataFrame(
            [(1, 0, "r0"), (1, 100, "r100"), (1, 200, "r200")],
            "k long, rt long, val string",
        )
        out = {
            r.tag: r
            for r in asof_join(
                left, right, on_left="k", left_time="t", right_time="rt",
                right_value_cols=["val"], direction="nearest",
            ).collect()
        }
        assert out["t10"].asof_val == "r0"      # 10 vs 90 away
        assert out["t95"].asof_val == "r100"    # forward closer (5 < 95)
        assert out["t150"].asof_val == "r100"   # tie 50/50 -> backward
        assert out["only"].asof_val is None     # key with no right rows

    def test_exact_hit_distance_zero(self, spark):
        from presto_ethereum_spark.operators.temporal import asof_join

        left = spark.createDataFrame([(1, 100)], "k long, t long")
        right = spark.createDataFrame(
            [(1, 100, "exact"), (1, 101, "after")], "k long, rt long, val string"
        )
        r = asof_join(
            left, right, on_left="k", left_time="t", right_time="rt",
            right_value_cols=["val"], direction="nearest", tolerance=0,
        ).collect()[0]
        assert r.asof_val == "exact"

    def test_nearest_single_exchange(self, spark):
        from presto_ethereum_spark.operators.temporal import asof_join

        left = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
            F.col("user_id").alias("k"), F.col("event_id").alias("t")
        )
        right = left.select("k", F.col("t").alias("rt"), F.lit(1).alias("val"))
        plan = (
            asof_join(left, right, on_left="k", left_time="t", right_time="rt",
                      right_value_cols=["val"], direction="nearest")
            ._jdf.queryExecution().executedPlan().toString()
        )
        # both carries ride one sort: no second exchange for the forward pass
        assert plan.count("Exchange hashpartitioning") == 1


class TestAsofTolerance:
    def test_stale_match_nulls_out(self, spark):
        from presto_ethereum_spark.operators.temporal import asof_join

        left = spark.createDataFrame(
            [(1, 100), (1, 250), (2, 50)], "k long, t long"
        )
        right = spark.createDataFrame(
            [(1, 90, "a"), (1, 95, "b"), (2, 10, "c")], "k long, rt long, v string"
        )
        out = {
            (r["k"], r["t"]): (r["asof_rt"], r["asof_v"])
            for r in asof_join(
                left, right, on_left="k", left_time="t", right_time="rt",
                on_right="k", tolerance=20,
            ).collect()
        }
        assert out[(1, 100)] == (95, "b")      # 5 <= 20: matches
        assert out[(1, 250)] == (None, None)   # 155 > 20: stale, nulled
        assert out[(2, 50)] == (None, None)    # 40 > 20
        # without tolerance the stale rows DO match (regression guard)
        full = {
            (r["k"], r["t"]): r["asof_v"]
            for r in asof_join(
                left, right, on_left="k", left_time="t", right_time="rt",
                on_right="k",
            ).collect()
        }
        assert full[(1, 250)] == "b" and full[(2, 50)] == "c"

    def test_forward_tolerance_and_validation(self, spark):
        from presto_ethereum_spark.operators.temporal import asof_join

        left = spark.createDataFrame([(1, 100)], "k long, t long")
        right = spark.createDataFrame([(1, 130, "x")], "k long, rt long, v string")
        [r] = asof_join(
            left, right, on_left="k", left_time="t", right_time="rt",
            on_right="k", direction="forward", tolerance=20,
        ).collect()
        assert r["asof_v"] is None  # 30 ahead > 20
        [r2] = asof_join(
            left, right, on_left="k", left_time="t", right_time="rt",
            on_right="k", direction="forward", tolerance=40,
        ).collect()
        assert r2["asof_v"] == "x"
        with pytest.raises(ValueError, match="tolerance"):
            asof_join(
                left, right, on_left="k", left_time="t", right_time="rt",
                on_right="k", tolerance=-1,
            ).collect()


class TestPageRankWeighted:
    @staticmethod
    def _ref(pairs, iters=3, d=0.85):
        import math
        from collections import Counter

        w = Counter(pairs)
        tw = Counter()
        for (s, _), c in w.items():
            tw[s] += c
        nodes = sorted({s for s, _ in w} | {t for _, t in w})
        n = len(nodes)
        scale = 1_000_000_000_000_000.0
        rank = {v: 1.0 / n for v in nodes}
        q = 1.0 - d
        for _ in range(iters):
            sums = {v: 0 for v in nodes}
            for (s, t), c in w.items():
                sums[t] += math.floor(rank[s] * c / tw[s] * scale)
            rank = {v: q / n + d * (float(sums[v]) / scale) for v in nodes}
        return rank

    def test_matches_reference_and_multiplicity_matters(self, spark):
        from presto_ethereum_spark.operators.graph import (
            pagerank,
            pagerank_weighted,
        )

        # a sends to b 3 times and to c once; unweighted treats them equal
        pairs = [("a", "b")] * 3 + [("a", "c"), ("b", "a"), ("c", "a")]
        df = spark.createDataFrame(
            [Row(src=s, dst=t) for s, t in pairs], "src string, dst string"
        )
        got = {r.addr: r.rank for r in pagerank_weighted(df).collect()}
        assert got == self._ref(pairs)
        assert got["b"] > got["c"]  # 3x the inflow weight
        flat = {r.addr: r.rank for r in pagerank(df).collect()}
        assert flat["b"] == flat["c"]  # dedup'd: equal

    def test_uniform_weights_equal_unweighted(self, spark):
        from presto_ethereum_spark.operators.graph import (
            pagerank,
            pagerank_weighted,
        )

        pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")]
        df = spark.createDataFrame(
            [Row(src=s, dst=t) for s, t in pairs], "src string, dst string"
        )
        wtd = {r.addr: r.rank for r in pagerank_weighted(df).collect()}
        flat = {r.addr: r.rank for r in pagerank(df).collect()}
        # all multiplicities 1 -> w/W == 1/deg... but the fp op ORDER
        # differs (rank*1/W vs rank/deg), so allow last-bit drift only
        assert set(wtd) == set(flat)
        for k in wtd:
            assert abs(wtd[k] - flat[k]) < 1e-12


class TestHits:
    def test_authority_and_hub_structure(self, spark):
        from presto_ethereum_spark.operators.graph import hits

        # a,b,c all point at x; x points at a; a also points at y
        df = spark.createDataFrame(
            [Row(src=s, dst=t) for s, t in
             [("a", "x"), ("b", "x"), ("c", "x"), ("x", "a"), ("a", "y")]],
            "src string, dst string",
        )
        out = {r["addr"]: (r["hub"], r["auth"]) for r in hits(df, 2).collect()}
        # x is the dominant authority; a/b/c are the hubs
        assert out["x"][1] == max(v[1] for v in out.values())
        assert out["a"][0] > 0 and out["b"][0] > 0 and out["c"][0] > 0
        assert out["y"][0] == 0.0  # y has no out-edges
        # L1 normalization: hubs and auths each sum to ~1
        assert abs(sum(v[0] for v in out.values()) - 1.0) < 1e-9
        assert abs(sum(v[1] for v in out.values()) - 1.0) < 1e-9

    def test_partitioning_invariance(self, spark):
        from presto_ethereum_spark.operators.graph import hits

        import random

        rng = random.Random(5)
        pairs = [(f"n{rng.randrange(30)}", f"n{rng.randrange(30)}") for _ in range(120)]
        pairs = [(s, t) for s, t in pairs if s != t]
        df = spark.createDataFrame(
            [Row(src=s, dst=t) for s, t in pairs], "src string, dst string"
        )
        a = sorted(map(tuple, hits(df, 2).collect()))
        b = sorted(map(tuple, hits(df.repartition(7), 2).collect()))
        assert a == b and len(a) > 0


class TestCountMinSketch:
    def test_never_undercounts_and_bounded_size(self, spark):
        from presto_ethereum_spark.operators.frequency import (
            cms_estimate,
            count_min_sketch,
        )

        df = spark.createDataFrame(
            [(f"t{i % 40}",) for i in range(400)], "tok string"
        )
        sk = count_min_sketch(df, "tok", width=32, depth=4)
        assert sk.count() <= 32 * 4
        exact = {
            r["tok"]: r["n"]
            for r in df.groupBy("tok").agg(F.count("*").alias("n")).collect()
        }
        est = {
            r["key"]: r["est"]
            for r in cms_estimate(
                sk, df.select("tok").distinct(), "tok", 32, 4
            ).collect()
        }
        assert all(est[k] >= exact[k] for k in exact)

    def test_sketches_merge_by_cell_addition(self, spark):
        from presto_ethereum_spark.operators.frequency import count_min_sketch

        a = spark.createDataFrame([("x",)] * 5 + [("y",)] * 2, "tok string")
        b = spark.createDataFrame([("x",)] * 3 + [("z",)] * 4, "tok string")
        merged = (
            count_min_sketch(a, "tok", 16, 3)
            .unionAll(count_min_sketch(b, "tok", 16, 3))
            .groupBy("row", "col")
            .agg(F.sum("cnt").alias("cnt"))
        )
        whole = count_min_sketch(a.unionAll(b), "tok", 16, 3)
        assert sorted(map(tuple, merged.collect())) == sorted(
            map(tuple, whole.collect())
        )

    def test_validation(self, spark):
        from presto_ethereum_spark.operators.frequency import count_min_sketch

        df = spark.createDataFrame([("x",)], "tok string")
        with pytest.raises(ValueError, match="width/depth"):
            count_min_sketch(df, "tok", width=0)


class TestBloomFilter:
    def test_no_false_negatives_and_merge(self, spark):
        from presto_ethereum_spark.operators.frequency import (
            bloom_bits,
            bloom_might_contain,
        )

        a = spark.createDataFrame([(i,) for i in range(60)], "k long")
        b = spark.createDataFrame([(i,) for i in range(60, 120)], "k long")
        merged = bloom_bits(a, "k", 2048, 5).unionAll(
            bloom_bits(b, "k", 2048, 5)
        ).distinct()
        whole = bloom_bits(a.unionAll(b), "k", 2048, 5)
        assert sorted(r["bit"] for r in merged.collect()) == sorted(
            r["bit"] for r in whole.collect()
        )
        probes = spark.createDataFrame([(i,) for i in range(200)], "k long")
        out = {
            r["key"]: r["might_contain"]
            for r in bloom_might_contain(whole, probes, "k", 2048, 5).collect()
        }
        assert all(out[i] for i in range(120))  # no false negatives, ever
        fp = sum(out[i] for i in range(120, 200))
        assert fp <= 20  # ~(1-e^{-5*120/2048})^5 ~= 0.15% -> generous bound

    def test_validation(self, spark):
        from presto_ethereum_spark.operators.frequency import bloom_bits

        df = spark.createDataFrame([(1,)], "k long")
        with pytest.raises(ValueError, match="m_bits"):
            bloom_bits(df, "k", m_bits=0)


class TestBloomBagUnionRegression:
    def test_bag_union_merge_has_no_false_negatives(self, spark):
        """Bag-semantics union of two bit tables (duplicate bits for keys
        set by both halves) must NOT flip present keys to false."""
        from presto_ethereum_spark.operators.frequency import (
            bloom_bits,
            bloom_might_contain,
        )

        a = spark.createDataFrame([(i,) for i in range(40)], "k long")
        b = spark.createDataFrame([(i,) for i in range(20, 60)], "k long")
        bag_merged = bloom_bits(a, "k", 1024, 5).unionAll(
            bloom_bits(b, "k", 1024, 5)
        )  # deliberately NOT distinct
        probes = spark.createDataFrame([(i,) for i in range(60)], "k long")
        out = {
            r["key"]: r["might_contain"]
            for r in bloom_might_contain(bag_merged, probes, "k", 1024, 5).collect()
        }
        assert all(out[i] for i in range(60))


class TestSkewReport:
    def test_hand_computed(self, spark):
        from presto_ethereum_spark.operators.skew import skew_report

        df = spark.createDataFrame(
            [("a",)] * 6 + [("b",)] * 2 + [("c",)] * 1 + [("d",)] * 1,
            "k string",
        )
        [r] = skew_report(df, "k", top_k=2).collect()
        assert (r["n_rows"], r["n_keys"], r["max_freq"]) == (10, 4, 6)
        assert r["avg_freq_x100"] == 250      # 10/4 = 2.5
        assert r["skew_factor_x100"] == 240   # 6/2.5 = 2.4
        assert r["top_keys"] == ["a", "b"]


class TestOhlcDeterminism:
    def test_equal_timestamp_ties_resolve_by_event_id(self, spark):
        """Two events at the same instant: open/close must come from the
        (t, event_id) order, not from min_by/first tie luck."""
        from presto_ethereum_spark.plans import battery

        rows = [
            # one hourly bar (bar = 0), all at t=1000us except a tie pair
            (1, 1000, 10.0),
            (2, 1000, 20.0),   # tie with event 1: open = event 1's value
            (3, 2000, 5.0),
            (4, 3600_000_000 - 1, 7.0),
            (5, 3600_000_000 - 1, 9.0),  # tie at the end: close = event 5
        ]
        df = spark.createDataFrame(
            [(eid, t * 1000, eid % 2, "x", v, "{}") for eid, t, v in rows],
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string",
        )
        df.createOrReplaceTempView("_ohlc_probe")
        from pyspark.sql import functions as F
        from pyspark.sql import Window

        ev = df.select(
            F.expr("(ts DIV 1000) DIV 3600000000").alias("bar"),
            F.expr("ts DIV 1000").alias("t"),
            "event_id",
            "value",
        )
        wa = Window.partitionBy("bar").orderBy("t", "event_id")
        wd = Window.partitionBy("bar").orderBy(
            F.col("t").desc(), F.col("event_id").desc()
        )
        r = ev.withColumn("rn_a", F.row_number().over(wa)).withColumn(
            "rn_d", F.row_number().over(wd)
        )
        [bar] = (
            r.groupBy("bar")
            .agg(
                F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
                F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
            )
            .collect()
        )
        assert bar["open"] == 10.0 and bar["close"] == 9.0


class TestDistributionDrift:
    def test_hand_computed_tv(self, spark):
        from presto_ethereum_spark.operators.text import distribution_drift

        df = spark.createDataFrame(
            [("a", "x x y"), ("a", "z"), ("b", "x y y q"), ("c", "x x y z")],
            "src string, text string",
        )
        out = {
            r["slice"]: (r["n_tokens"], r["tv_e6"])
            for r in distribution_drift(df, "src", "a").collect()
        }
        # base a = {x:2, y:1, z:1}/4; b = {x:1, y:2, q:1}/4 -> TV = 1/2
        # c identical to a -> TV = 0
        assert out == {"b": (4, 500000), "c": (4, 0)}

    def test_disjoint_vocabularies_are_maximally_distant(self, spark):
        from presto_ethereum_spark.operators.text import distribution_drift

        df = spark.createDataFrame(
            [("a", "x y"), ("b", "p q")], "src string, text string"
        )
        [r] = distribution_drift(df, "src", "a").collect()
        assert r["tv_e6"] == 1000000

    def test_partitioning_invariance(self, spark):
        from presto_ethereum_spark.operators.text import distribution_drift

        df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        a = sorted(map(tuple, distribution_drift(df, "source", "src0").collect()))
        b = sorted(
            map(
                tuple,
                distribution_drift(df.repartition(9), "source", "src0").collect(),
            )
        )
        assert a == b and len(a) > 0


class TestDuplicateChunkFilter:
    def test_hand_computed(self, spark):
        # W=2 chunks: d0 -> ["a b","c d"], d1 -> ["a b","x y"], d2 -> ["q"]
        # "a b" occurs twice -> removed from both docs
        df = spark.createDataFrame(
            [
                Row(doc_id=0, text="a b c d"),
                Row(doc_id=1, text="a b x y"),
                Row(doc_id=2, text="q"),
            ]
        )
        out = {
            r["doc_id"]: r
            for r in dedup.duplicate_chunk_filter(
                df, chunk_tokens=2, max_count=2
            ).collect()
        }
        assert (out[0]["n_chunks"], out[0]["n_removed"]) == (2, 1)
        assert out[0]["kept_text"] == "c d"
        assert out[1]["kept_text"] == "x y"
        assert (out[2]["n_chunks"], out[2]["n_removed"]) == (1, 0)
        assert out[2]["kept_text"] == "q"

    def test_fully_boilerplate_doc_keeps_empty_text(self, spark):
        df = spark.createDataFrame(
            [Row(doc_id=0, text="a b"), Row(doc_id=1, text="a b")]
        )
        out = dedup.duplicate_chunk_filter(df, chunk_tokens=2, max_count=2)
        rows = {r["doc_id"]: r for r in out.collect()}
        assert rows[0]["kept_text"] == "" and rows[0]["n_removed"] == 1
        assert rows[1]["kept_text"] == "" and rows[1]["n_removed"] == 1

    def test_threshold_not_met_keeps_everything(self, spark):
        df = spark.createDataFrame(
            [Row(doc_id=0, text="a b"), Row(doc_id=1, text="a b")]
        )
        rows = dedup.duplicate_chunk_filter(
            df, chunk_tokens=2, max_count=3
        ).collect()
        assert all(r["n_removed"] == 0 and r["kept_text"] == "a b" for r in rows)

    def test_partial_tail_chunk(self, spark):
        # 5 tokens, W=3 -> chunks "a b c" and "d e" (ceil coverage, no drop)
        df = spark.createDataFrame([Row(doc_id=0, text="a b c d e")])
        [r] = dedup.duplicate_chunk_filter(df, chunk_tokens=3).collect()
        assert r["n_chunks"] == 2 and r["kept_text"] == "a b c d e"

    def test_partitioning_invariance(self, spark):
        df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        a = sorted(
            map(tuple, dedup.duplicate_chunk_filter(df).collect())
        )
        b = sorted(
            map(
                tuple,
                dedup.duplicate_chunk_filter(df.repartition(9)).collect(),
            )
        )
        assert a == b and len(a) > 0


class TestQualityClassifier:
    def test_hand_computed_score(self, spark):
        import hashlib

        w = text.quality_classifier_weights()
        df = spark.createDataFrame([Row(doc_id=0, text="hello world")])
        [r] = text.quality_classifier_score(df).collect()
        expect = sum(
            w[int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % 64]
            for t in ("hello", "world")
        )
        assert r["score_e3"] == expect
        assert r["n_tokens"] == 2
        assert r["is_quality"] == (expect > 0)

    def test_score_is_token_order_invariant(self, spark):
        df = spark.createDataFrame(
            [Row(doc_id=0, text="x y z"), Row(doc_id=1, text="z y x")]
        )
        rows = text.quality_classifier_score(df).collect()
        assert rows[0]["score_e3"] == rows[1]["score_e3"]

    def test_weights_length_validated(self, spark):
        df = spark.createDataFrame([Row(doc_id=0, text="a")])
        with pytest.raises(ValueError):
            text.quality_classifier_score(df, weights=[1, 2, 3])

    def test_custom_weights_zero_give_zero_scores(self, spark):
        df = spark.createDataFrame([Row(doc_id=0, text="a b c")])
        [r] = text.quality_classifier_score(df, weights=[0] * 64).collect()
        assert r["score_e3"] == 0 and r["is_quality"] is False


class TestContainmentPairs:
    def test_subset_duplication_found_despite_low_jaccard(self, spark):
        from presto_ethereum_spark.operators.dedup import containment_pairs

        host = "a b c d e f g h i j"  # 8 distinct 3-shingles
        quoted = "a b c d e"  # 3 distinct 3-shingles, all inside host
        df = spark.createDataFrame(
            [(1, quoted), (2, host), (3, "x y z w v u t s r q")],
            "doc_id long, text string",
        )
        out = {(r.id_a, r.id_b): r for r in containment_pairs(df, 0.6).collect()}
        # jaccard(1,2) = 3/8 = 0.375 — a jaccard threshold of 0.6 would
        # miss it; containment of the quoted doc is 1.0
        assert set(out) == {(1, 2)}
        r = out[(1, 2)]
        assert r.inter == 3 and r.cont_a == 1.0 and r.cont_b == 0.375

    def test_zero_threshold_rejected(self, spark):
        from presto_ethereum_spark.operators.dedup import containment_pairs

        with pytest.raises(ValueError):
            containment_pairs(spark.range(1).withColumn("text", F.lit("a")), 0)

    def test_blocking_respected(self, spark):
        from presto_ethereum_spark.operators.dedup import containment_pairs

        df = spark.createDataFrame(
            [(1, "a b c d", "en"), (2, "a b c d", "fr")],
            "doc_id long, text string, lang string",
        )
        assert containment_pairs(df, 0.5, blocking_cols=["lang"]).count() == 0
        assert containment_pairs(df, 0.5).count() == 1


class TestPostingListCap:
    """Skew guard for the inverted-index pair-join family: a corpus-frequent
    (boilerplate) shingle must not create Sum df² join work.  The fixture
    plants one shingle in ~10% of a 60-doc corpus — the shape sf0.001..0.1
    never exhibits (their max df is 5..14 organic) — and pins the df-cap
    semantics: capped shingles leave the INDEX, sizes stay FULL."""

    N_DOCS = 60

    @pytest.fixture(scope="class")
    def skewed(self, spark):
        boiler = "all rights reserved worldwide"  # 2 distinct 3-shingles
        rows = []
        for i in range(self.N_DOCS):
            if i < 6:  # ~10% of docs carry the boilerplate phrase
                rows.append((i, f"{boiler} unique{i}a unique{i}b unique{i}c"))
            else:
                rows.append((i, f"unique{i}a unique{i}b unique{i}c unique{i}d"))
        # one true near-dup pair sharing RARE content only
        rows.append((100, "rare content duplicated verbatim across two docs"))
        rows.append((101, "rare content duplicated verbatim across two docs"))
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_cap_drops_hot_postings_bounding_join_work(self, skewed):
        from presto_ethereum_spark.operators.dedup import _shingle_postings

        capped = _shingle_postings(skewed, "text", "doc_id", 3, [], max_df=5)
        dfs = [
            r["df"]
            for r in capped.groupBy("s").agg(F.count("*").alias("df")).collect()
        ]
        total_postings = sum(dfs)
        assert max(dfs) <= 5  # hot shingle (df=6) evicted from the index
        # candidate-pair work bound: Sum df^2 <= max_df * total postings
        assert sum(d * d for d in dfs) <= 5 * total_postings

    def test_boilerplate_only_overlap_yields_no_pair(self, skewed):
        from presto_ethereum_spark.operators.dedup import containment_pairs

        pairs = {
            (r.id_a, r.id_b)
            for r in containment_pairs(skewed, 0.3, max_df=5).collect()
        }
        # the 6 boilerplate docs overlap ONLY on capped shingles -> no pair;
        # the rare-content duplicate survives with full-denominator fractions
        assert pairs == {(100, 101)}

    def test_capped_containment_keeps_full_denominators(self, skewed):
        from presto_ethereum_spark.operators.dedup import containment_pairs

        [r] = containment_pairs(skewed, 0.3, max_df=5).collect()
        # both docs have 5 distinct shingles (7 words), all shared, all rare
        assert r.inter == 5 and r.cont_a == 1.0 and r.cont_b == 1.0

    def test_jaccard_pairs_honors_cap(self, skewed):
        from presto_ethereum_spark.operators.dedup import jaccard_pairs

        pairs = {
            (r.id_a, r.id_b)
            for r in jaccard_pairs(skewed, 0.3, max_df=5).collect()
        }
        assert pairs == {(100, 101)}

    def test_uncapped_matches_capped_when_cap_above_max_df(self, skewed):
        from presto_ethereum_spark.operators.dedup import containment_pairs

        base = sorted(
            map(tuple, containment_pairs(skewed, 0.3).collect())
        )
        hi = sorted(
            map(tuple, containment_pairs(skewed, 0.3, max_df=1000).collect())
        )
        assert base == hi  # cap above every df is a no-op, bit-identical


class TestRangeSearch:
    def test_matches_bruteforce_sims_and_threshold(self, spark):
        from presto_ethereum_spark.operators.similarity import (
            brute_force_topk,
            range_search,
        )

        df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        probes = df.where(F.col("vec_id") < 3)
        full = brute_force_topk(df, probes, k=10_000_000)
        t = 0.2
        want = {
            (r.query_id, r.neighbor_id): r.sim
            for r in full.collect()
            if r.sim >= t
        }
        got = {
            (r.query_id, r.neighbor_id): r.sim
            for r in range_search(df, probes, threshold=t).collect()
        }
        assert got == want and len(got) > 0

    def test_zero_shuffle_plan(self, spark):
        from presto_ethereum_spark.operators.similarity import range_search

        df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        plan = range_search(
            df, df.where(F.col("vec_id") < 3), threshold=0.2
        )._jdf.queryExecution().executedPlan().toString()
        # probes broadcast; the corpus side must not exchange
        assert "Exchange hashpartitioning" not in plan


class TestFrameDedup:
    def test_hand_computed_stats(self, spark):
        from presto_ethereum_spark.operators.multimodal import frame_dedup_stats

        rows = [
            (1, b"aaaabbbb"),
            (2, b"aaaacccc"),
            (3, b"dddd"),
            (4, b""),
        ]
        df = spark.createDataFrame(rows, "media_id long, data binary")
        out = {r.media_id: r for r in frame_dedup_stats(df, every_n_bytes=4).collect()}
        assert (out[1].n_frames, out[1].n_dup_frames, out[1].dup_frac) == (2, 1, 0.5)
        assert (out[2].n_frames, out[2].n_dup_frames, out[2].dup_frac) == (2, 1, 0.5)
        assert (out[3].n_frames, out[3].n_dup_frames, out[3].dup_frac) == (1, 0, 0.0)
        assert (out[4].n_frames, out[4].n_dup_frames, out[4].dup_frac) == (0, 0, 0.0)

    def test_no_frame_bytes_in_exchange(self, spark):
        from presto_ethereum_spark.operators.multimodal import (
            frame_dedup_stats,
            media_from_documents,
        )

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = (
            frame_dedup_stats(media_from_documents(docs), every_n_bytes=64)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # every shuffle must partition on the fingerprint or the media id,
        # never on (or carrying) frame payload columns
        import re

        parts = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        assert parts, "expected at least one hash exchange"
        for keys in parts:
            assert "frame_bytes" not in keys
            assert ("fp" in keys) or ("media_id" in keys)


class TestIvfKnnJoin:
    def test_full_probe_equals_bruteforce(self, spark):
        from presto_ethereum_spark.operators.similarity import (
            brute_force_topk,
            ivf_knn_join,
            seed_centroids,
        )

        df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        qs = df.where(F.col("vec_id") < 10)
        cents = seed_centroids(df, n_cells=4)
        # with nprobe == n_cells every pair lands in a probed cell ->
        # exact equality with the brute-force baseline (docstring contract)
        exact = sorted(
            map(tuple, brute_force_topk(df, qs, k=5).collect())
        )
        joined = sorted(
            map(
                tuple,
                ivf_knn_join(
                    df, queries=qs, centroids=cents, nprobe=4, k=5
                ).collect(),
            )
        )
        assert joined == exact and len(joined) == 50

    def test_corpus_sized_query_side_no_broadcast_of_queries(self, spark):
        from presto_ethereum_spark.operators.similarity import (
            ivf_knn_join,
            seed_centroids,
        )

        df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        cents = seed_centroids(df, n_cells=8)
        out = ivf_knn_join(df, centroids=cents, nprobe=2, k=3)
        # one row set per query; every query id present
        n_queries = df.count()
        got = out.groupBy("query_id").count().count()
        assert got == n_queries


class TestValidateExpectations:
    def test_hand_computed_violations(self, spark):
        from presto_ethereum_spark.operators.stats import validate_expectations

        df = spark.createDataFrame(
            [
                (1, 5.0, "A"),
                (1, 150.0, "A"),   # dup id, out-of-range
                (2, None, "B"),    # null value, bad flag
                (3, 50.0, "A"),
            ],
            "id long, v double, flag string",
        )
        out = {
            r.rule: r
            for r in validate_expectations(
                df,
                [
                    ("v_not_null", "not_null", {"col": "v"}),
                    ("v_range", "range", {"col": "v", "lo": 0, "hi": 100}),
                    ("flag_domain", "in_set", {"col": "flag", "values": ["A"]}),
                    ("id_unique", "unique", {"cols": ["id"]}),
                ],
            ).collect()
        }
        assert out["v_not_null"].n_violations == 1
        # 150 out of range + NULL counts as violation
        assert out["v_range"].n_violations == 2
        assert out["flag_domain"].n_violations == 1
        assert out["id_unique"].n_violations == 1
        assert all(r.n_rows == 4 for r in out.values())
        assert out["v_range"].violation_frac == 0.5
        assert out["id_unique"].kind == "unique"

    def test_single_scan_for_scalar_rules(self, spark):
        from presto_ethereum_spark.operators.stats import validate_expectations

        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        plan = (
            validate_expectations(
                li,
                [
                    ("a", "not_null", {"col": "l_shipdate"}),
                    ("b", "range", {"col": "l_quantity", "lo": 1, "hi": 50}),
                    ("c", "in_set", {"col": "l_returnflag", "values": ["A", "N", "R"]}),
                ],
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # all scalar rules ride ONE scan (no unique rule -> exactly one)
        assert plan.count("FileScan parquet") == 1

    def test_unknown_kind_raises(self, spark):
        from presto_ethereum_spark.operators.stats import validate_expectations

        with pytest.raises(ValueError):
            validate_expectations(spark.range(1), [("x", "nope", {})])

    def test_empty_rules_raises(self, spark):
        from presto_ethereum_spark.operators.stats import validate_expectations

        with pytest.raises(ValueError):
            validate_expectations(spark.range(1), [])

    def test_unique_rule_counts_null_keys_explicitly(self, spark):
        from presto_ethereum_spark.operators.stats import validate_expectations

        # count_distinct drops NULL-containing keys; the old n_rows -
        # n_distinct formula branded every NULL-key row a duplicate AND
        # miscounted (3 NULL rows -> 3 "violations" even with no dups).
        # Contract now: NULL key = 1 violation each (can't prove unique),
        # plus every non-null row beyond the first per key.
        df = spark.createDataFrame(
            [(1, "a"), (1, "a"), (2, "b"), (None, "c"), (None, "d")],
            "id long, x string",
        )
        [r] = validate_expectations(
            df, [("u", "unique", {"cols": ["id"]})]
        ).collect()
        # 2 NULL-key rows + 1 duplicate of key 1 = 3
        assert r.n_violations == 3 and r.n_rows == 5

    def test_unique_rule_all_nulls(self, spark):
        from presto_ethereum_spark.operators.stats import validate_expectations

        df = spark.createDataFrame([(None,), (None,)], "id string")
        [r] = validate_expectations(
            df, [("u", "unique", {"cols": ["id"]})]
        ).collect()
        assert r.n_violations == 2


class TestMadOutliers:
    def test_hand_computed(self, spark):
        from presto_ethereum_spark.operators.stats import mad_outliers

        # group g: values 1..9 plus a wild 1000 -> med 5.5, deviations
        # {4.5,3.5,2.5,1.5,0.5,0.5,1.5,2.5,3.5,994.5} -> mad 2.5;
        # threshold 3*1.4826*2.5 = 11.12 -> only 1000 is an outlier
        rows = [("g", float(v)) for v in range(1, 10)] + [("g", 1000.0)]
        df = spark.createDataFrame(rows, "grp string, value double")
        r = mad_outliers(df, "value", ["grp"], k=3.0).collect()[0]
        assert r.n == 10 and r.med == 5.5 and r.mad == 2.5
        assert r.n_outliers == 1 and r.outlier_frac == 0.1

    def test_robust_vs_mean(self, spark):
        from presto_ethereum_spark.operators.stats import mad_outliers

        # the outlier drags the MEAN to ~100 (z-score would miss moderate
        # anomalies); the median/MAD threshold is untouched by it
        rows = [("g", 10.0)] * 50 + [("g", 5000.0)]
        df = spark.createDataFrame(rows, "grp string, value double")
        r = mad_outliers(df, "value", ["grp"], k=3.0).collect()[0]
        assert r.med == 10.0 and r.mad == 0.0
        assert r.n_outliers == 1


class TestOlsTrend:
    def test_exact_fit(self, spark):
        from presto_ethereum_spark.operators.stats import ols_trend

        # y = 2x + 1 exactly -> slope 2.00, intercept 1.00, r2 = 1
        rows = [("g", 0, 1), ("g", 1, 3), ("g", 2, 5)]
        df = spark.createDataFrame(rows, "grp string, x int, y long")
        r = ols_trend(df, "x", "y", ["grp"]).collect()[0]
        assert r.n == 3 and r.slope_e2 == 200 and r.intercept_e2 == 100
        assert r.r2_e6 == 1_000_000

    def test_fraction_referee(self, spark):
        from fractions import Fraction

        from presto_ethereum_spark.operators.stats import ols_trend

        def half_away(fr: Fraction, scale: int) -> int:
            v = fr * scale
            q, r = divmod(abs(v.numerator), v.denominator)
            mag = q + (1 if 2 * r >= v.denominator else 0)
            return -mag if v < 0 else mag

        pts = [(0, 10), (1, 9), (2, 7), (3, 7), (5, 2)]
        n = len(pts)
        sx = sum(x for x, _ in pts); sy = sum(y for _, y in pts)
        sxx = sum(x * x for x, _ in pts); sxy = sum(x * y for x, y in pts)
        syy = sum(y * y for _, y in pts)
        d = n * sxx - sx * sx
        nm = n * sxy - sx * sy
        im = sy * sxx - sx * sxy
        syyc = n * syy - sy * sy
        df = spark.createDataFrame(
            [("g", x, y) for x, y in pts], "grp string, x int, y long"
        )
        r = ols_trend(df, "x", "y", ["grp"]).collect()[0]
        assert r.slope_e2 == half_away(Fraction(nm, d), 100)
        assert r.intercept_e2 == half_away(Fraction(im, d), 100)
        assert r.r2_e6 == half_away(Fraction(nm * nm, d * syyc), 1_000_000)

    def test_degenerate_groups(self, spark):
        from presto_ethereum_spark.operators.stats import ols_trend

        # all-equal x -> D = 0 -> NULL line; constant y -> NULL r2
        rows = [("a", 2, 5), ("a", 2, 9), ("b", 0, 4), ("b", 1, 4)]
        df = spark.createDataFrame(rows, "grp string, x int, y long")
        out = {r.grp: r for r in ols_trend(df, "x", "y", ["grp"]).collect()}
        a, b = out["a"], out["b"]
        assert a.slope_e2 is None and a.intercept_e2 is None and a.r2_e6 is None
        assert b.slope_e2 == 0 and b.intercept_e2 == 400 and b.r2_e6 is None

    def test_div_half_away_ties(self, spark):
        from pyspark.sql import functions as F

        from presto_ethereum_spark.operators.stats import _div_half_away

        # 1/8 * 100 = 12.5 -> 13; the negative tie rounds away to -13
        df = spark.range(1).select(
            F.lit(1).alias("p"), F.lit(-1).alias("m"), F.lit(8).alias("d")
        )
        r = df.select(
            _div_half_away("p", "d", 100).alias("up"),
            _div_half_away("m", "d", 100).alias("dn"),
        ).collect()[0]
        assert r.up == 13 and r.dn == -13


class TestCollocationsPmi:
    def test_hand_computed(self, spark):
        import math

        from presto_ethereum_spark.operators.text import collocations_pmi

        # "a b" occurs 6x; tokens: each "a b" doc adds a,b; filler "c c"
        rows = [(i, "a b") for i in range(6)] + [(i + 10, "c c") for i in range(6)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {(r.w1, r.w2): r for r in collocations_pmi(df, min_count=5, k=10).collect()}
        assert set(out) == {("a", "b"), ("c", "c")}
        r = out[("a", "b")]
        # N = 12 bigram positions; c12=6; c1 = a appears 6x, b 6x in the
        # unioned (w1,w2) stream; pmi = ln(6 * 24 / 36)
        assert r.c12 == 6 and r.c1 == 6 and r.c2 == 6
        assert r.pmi == round(math.log(6 * 24 / 36.0), 6)
        assert out[("a", "b")].rank == 1  # higher pmi than (c,c)? equal ->
        # tie broken by (w1, w2): 'a' < 'c'


class TestTimeWeightedAvg:
    def test_hand_computed(self, spark):
        from presto_ethereum_spark.operators.temporal import time_weighted_avg

        # key 1: 10.0 holds 3us, 20.0 holds 1us, 40.0 trailing (0us)
        # twap = (1000*3 + 2000*1) / (4 * 100) = 5000/400 = 12.5
        rows = [
            (1, 1, 0, 10.0),
            (1, 2, 3, 20.0),
            (1, 3, 4, 40.0),
            (2, 4, 0, 7.0),  # single obs -> NULL twap
        ]
        df = spark.createDataFrame(rows, "k long, eid long, t long, value double")
        out = {r.key: r for r in
               time_weighted_avg(df, "k", "t", "value", "eid").collect()}
        assert out[1].n_obs == 3 and out[1].total_dt_us == 4
        assert out[1].twap == 12.5
        assert out[2].twap is None and out[2].total_dt_us == 0

    def test_burst_does_not_overcount(self, spark):
        from presto_ethereum_spark.operators.temporal import time_weighted_avg

        # a 1us flicker to 1000 inside an hour of 10s: plain mean ~ 340,
        # twap stays ~10
        rows = [(1, 1, 0, 10.0), (1, 2, 1_800_000_000, 1000.0),
                (1, 3, 1_800_000_001, 10.0), (1, 4, 3_600_000_000, 10.0)]
        df = spark.createDataFrame(rows, "k long, eid long, t long, value double")
        r = time_weighted_avg(df, "k", "t", "value", "eid").collect()[0]
        assert r.twap < 11.0

    def test_single_row_product_beyond_int64_is_exact(self, spark):
        from presto_ethereum_spark.operators.temporal import time_weighted_avg

        # cents (1e10) x dt_us (1e12) = 1e22 > 2^63: a LONG product would
        # wrap silently (non-ANSI); the operand is cast to decimal(38,0)
        # before the multiply so even one row's product is overflow-safe
        rows = [(1, 1, 0, 1e8), (1, 2, 10**12, 1e8)]
        df = spark.createDataFrame(rows, "k long, eid long, t long, value double")
        r = time_weighted_avg(df, "k", "t", "value", "eid").collect()[0]
        assert r.total_dt_us == 10**12
        assert r.twap == 1e8  # exact: constant series' twap is the constant


class TestIvfCellStats:
    def test_loads_sum_to_n_cells(self, spark):
        from presto_ethereum_spark.plans import battery

        out = battery.queries()["emb_ivf_cell_stats"](
            spark, "/root/testdata/sf0.001"
        ).collect()
        assert len(out) == 8  # one row per codebook cell, empties included
        assert sum(r.n_vecs for r in out) > 0
        # load factors average 1.0 by construction (n_cells * frac sums to 8)
        total = sum(r.n_vecs for r in out)
        for r in out:
            assert abs(r.load_factor - r.n_vecs * 8 / total) < 1e-5


class TestAggStateMerge:
    def test_merge_equals_full_recompute(self, spark):
        from presto_ethereum_spark.operators.stats import (
            agg_state,
            merge_agg_states,
        )

        rows = [("a", i, (i * 37) % 500) for i in range(40)] + [
            ("b", i, 100 + i) for i in range(7)
        ]
        df = spark.createDataFrame(rows, "k string, i long, cents long")
        full = agg_state(df, ["k"], "cents")
        s1 = agg_state(df.where(F.col("i") % 3 == 0), ["k"], "cents")
        s2 = agg_state(df.where(F.col("i") % 3 == 1), ["k"], "cents")
        s3 = agg_state(df.where(F.col("i") % 3 == 2), ["k"], "cents")
        merged = merge_agg_states(s1, s2, s3)
        want = {r.k: (r.cnt, r.sum_cents, r.min_cents, r.max_cents)
                for r in full.collect()}
        got = {r.k: (r.cnt, r.sum_cents, r.min_cents, r.max_cents)
               for r in merged.collect()}
        assert got == want
        avg = {r.k: r.avg for r in merged.collect()}
        assert avg["b"] == sum(100 + i for i in range(7)) / 7 / 100

    def test_empty_state_list_raises(self, spark):
        from presto_ethereum_spark.operators.stats import merge_agg_states

        with pytest.raises(ValueError):
            merge_agg_states()


class TestRandomizedReferees:
    def test_ols_trend_vs_fraction_200_groups(self, spark):
        import random
        from fractions import Fraction

        rng = random.Random(42)
        rows, expected = [], {}
        for g in range(200):
            n = rng.randint(1, 12)
            pts = [
                (rng.randint(-50, 50), rng.randint(-10**9, 10**9))
                for _ in range(n)
            ]
            rows += [(g, x, y) for x, y in pts]
            sx = sum(x for x, _ in pts); sy = sum(y for _, y in pts)
            sxx = sum(x * x for x, _ in pts)
            sxy = sum(x * y for x, y in pts)
            syy = sum(y * y for _, y in pts)
            d = n * sxx - sx * sx
            nm = n * sxy - sx * sy
            im = sy * sxx - sx * sxy
            syyc = n * syy - sy * sy

            def half_away(fr, scale):
                v = fr * scale
                q, r = divmod(abs(v.numerator), v.denominator)
                mag = q + (1 if 2 * r >= v.denominator else 0)
                return -mag if v < 0 else mag

            expected[g] = (
                half_away(Fraction(nm, d), 100) if d > 0 else None,
                half_away(Fraction(im, d), 100) if d > 0 else None,
                half_away(Fraction(nm * nm, d * syyc), 10**6)
                if d > 0 and syyc > 0 else None,
            )
        from presto_ethereum_spark.operators.stats import ols_trend

        df = spark.createDataFrame(rows, "grp long, x int, y long")
        got = {
            r.grp: (r.slope_e2, r.intercept_e2, r.r2_e6)
            for r in ols_trend(df, "x", "y", ["grp"]).collect()
        }
        assert got == expected

    def test_max_concurrency_vs_bruteforce_50_keys(self, spark):
        import random

        rng = random.Random(7)
        rows, expected = [], {}
        iid = 0
        for k in range(50):
            n = rng.randint(1, 30)
            ivs = []
            for _ in range(n):
                s = rng.randint(0, 100)
                e = s + rng.randint(1, 40)
                iid += 1
                ivs.append((iid, s, e))
            rows += [(k, i, s, e) for i, s, e in ivs]
            # brute force: evaluate concurrency at every start point
            best, best_t = 0, None
            for t in sorted({s for _, s, _ in ivs}):
                c = sum(1 for _, s, e in ivs if s <= t < e)
                if c > best:
                    best, best_t = c, t
            expected[k] = (best, best_t)
        from presto_ethereum_spark.operators.temporal import max_concurrency

        df = spark.createDataFrame(rows, "k long, iid long, s long, e long")
        got = {
            r.k: (r.peak, r.t_at_peak)
            for r in max_concurrency(df, ["k"], "s", "e", "iid").collect()
        }
        assert got == expected


class TestRecallReport:
    def test_counts_per_group(self, spark):
        """Two groups with hits, one group no candidate reaches (reported
        with n_hits 0, not NULL and not dropped), and candidate rows absent
        from truth (ignored)."""
        truth = spark.createDataFrame(
            [(1, 10, "a"), (1, 11, "a"), (1, 12, "a"),
             (2, 20, "b"), (2, 21, "b"),
             (3, 30, "c")],
            "q long, n long, g string",
        )
        cands = spark.createDataFrame(
            [(1, 10), (1, 12), (1, 99), (2, 21), (2, 98), (4, 40)],
            "q long, n long",
        )
        rep = dedup.recall_report(truth, cands, ["q", "n"], ["g"])
        assert rep.columns == ["g", "n_truth", "n_hits"]
        assert [f.dataType.simpleString() for f in rep.schema.fields[1:]] == [
            "bigint", "bigint"
        ]
        got = {r.g: (r.n_truth, r.n_hits) for r in rep.collect()}
        assert got == {"a": (3, 2), "b": (2, 1), "c": (1, 0)}


class TestMinhashRecall:
    def test_buckets_and_recall_bounds(self, spark):
        import tempfile

        from presto_ethereum_spark.plans import battery

        # identical pair (J=1.0 -> 0.7+ bucket, LSH must catch it) plus a
        # moderately similar pair built by swapping a suffix (lands in a
        # lower bucket where banding MAY miss it)
        base = " ".join(f"w{i}" for i in range(40))
        mid = " ".join(f"w{i}" for i in range(25)) + " " + " ".join(
            f"x{i}" for i in range(15)
        )
        rows = [(1, base), (2, base), (3, mid),
                (4, "zz yy xx ww vv uu tt ss rr qq")]
        with tempfile.TemporaryDirectory() as td:
            spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
                f"{td}/documents.parquet"
            )
            out = {r.bucket: r for r in
                   battery.queries()["doc_minhash_recall"](spark, td).collect()}
        top = out["0.7+"]
        assert top.n_truth >= 1 and top.n_caught == top.n_truth
        assert top.recall == 1.0
        for r in out.values():  # recall is a well-formed fraction everywhere
            assert 0.0 <= r.recall <= 1.0 and r.n_caught <= r.n_truth


class TestMarkovTransitions:
    def test_hand_computed(self, spark):
        import tempfile

        from presto_ethereum_spark.plans import battery

        # user 1: a->b->a->c ; user 2: a->b
        # pairs: (a,b)=2, (b,a)=1, (a,c)=1 -> P(b|a)=2/3, P(c|a)=1/3
        rows = [
            (1, 1, 0, "a"), (1, 2, 1, "b"), (1, 3, 2, "a"), (1, 4, 3, "c"),
            (2, 5, 0, "a"), (2, 6, 1, "b"),
        ]
        with tempfile.TemporaryDirectory() as td:
            spark.createDataFrame(
                [(u, e, t * 1_000_000_000, ty) for u, e, t, ty in rows],
                "user_id long, event_id long, ts long, event_type string",
            ).write.parquet(f"{td}/events.parquet")
            out = {
                (r.src, r.dst): r
                for r in battery.queries()["rel_markov_transitions"](
                    spark, td
                ).collect()
            }
        assert out[("a", "b")].n == 2 and out[("a", "b")].n_src == 3
        assert out[("a", "b")].prob == 0.666667  # integer half-up micro-units
        assert out[("a", "c")].prob == 0.333333
        assert out[("b", "a")].prob == 1.0


class TestEwmaLast:
    def test_hand_computed(self, spark):
        from presto_ethereum_spark.operators.temporal import ewma_last

        # key 1, cents by time: 100 (old), 200, 400 (newest), window 20:
        # num = 400*4 + 200*2 + 100*1 = 2100, den = 2^3 - 1 = 7
        # ewma = 2100/7/100 = 3.0
        rows = [(1, 1, 0, 100), (1, 2, 10, 200), (1, 3, 20, 400)]
        df = spark.createDataFrame(rows, "k long, eid long, t long, cents long")
        r = ewma_last(df, "k", "t", "cents", "eid", window=20).collect()[0]
        assert (r.n_obs, r.ewma_num, r.ewma_den, r.ewma) == (3, 2100, 7, 3.0)

    def test_window_truncates(self, spark):
        from presto_ethereum_spark.operators.temporal import ewma_last

        # window 2 keeps only the two newest: num = 400*2 + 200, den = 3
        rows = [(1, 1, 0, 100), (1, 2, 10, 200), (1, 3, 20, 400)]
        df = spark.createDataFrame(rows, "k long, eid long, t long, cents long")
        r = ewma_last(df, "k", "t", "cents", "eid", window=2).collect()[0]
        assert (r.n_obs, r.ewma_num, r.ewma_den) == (2, 1000, 3)
        assert r.ewma == 1000 / 3 / 100

    def test_window_bound_guard(self, spark):
        from presto_ethereum_spark.operators.temporal import ewma_last

        df = spark.createDataFrame([(1, 1, 0, 1)], "k long, eid long, t long, cents long")
        with pytest.raises(ValueError):
            ewma_last(df, "k", "t", "cents", "eid", window=64)


class TestMergeChangeset:
    def test_all_branches(self, spark):
        from presto_ethereum_spark.operators.temporal import merge_changeset

        base = spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)],
            "k long, name string, v long",
        )
        changes = spark.createDataFrame(
            [
                (2, "b2", 22, "U"),   # update
                (3, None, 0, "D"),    # delete
                (5, "e", 50, "I"),    # insert
                (1, "a9", 99, "I"),   # insert conflict -> base wins
                (9, "x", 90, "U"),    # update of absent key -> no-op
                (8, None, 0, "D"),    # delete of absent key -> no-op
            ],
            "k long, name string, v long, op string",
        )
        out = {r.k: r for r in merge_changeset(base, changes, "k").collect()}
        assert set(out) == {1, 2, 4, 5}
        assert out[2].action == "updated" and out[2].name == "b2" and out[2].v == 22
        assert out[5].action == "inserted" and out[5].v == 50
        assert out[1].action == "kept" and out[1].name == "a"  # conflict
        assert out[4].action == "kept" and out[4].v == 40

    def test_single_shuffle_plan(self, spark):
        from presto_ethereum_spark.operators.temporal import merge_changeset

        base = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
        changes = base.limit(5).withColumn("op", F.lit("U"))
        plan = (
            merge_changeset(base, changes, "c_custkey")
            ._jdf.queryExecution().executedPlan().toString()
        )
        # one join, and the base is never scanned more than twice (base +
        # the changeset derived from it); no 3-pass union-of-joins
        assert plan.count("FileScan parquet") <= 2

    def test_duplicate_changeset_key_raises(self, spark):
        from presto_ethereum_spark.operators.temporal import merge_changeset

        base = spark.createDataFrame([(1, 10)], "k long, v long")
        changes = spark.createDataFrame(
            [(1, 11, "U"), (1, 12, "U")], "k long, v long, op string"
        )
        # Delta/Iceberg MERGE INTO multiple-matches contract: two ops for
        # one key is an error, not a silent fan-out
        with pytest.raises(Exception, match="multiple changeset rows"):
            merge_changeset(base, changes, "k").collect()

    def test_duplicate_key_fanout_when_validation_off(self, spark):
        from presto_ethereum_spark.operators.temporal import merge_changeset

        base = spark.createDataFrame([(1, 10)], "k long, v long")
        changes = spark.createDataFrame(
            [(1, 11, "U"), (1, 12, "U")], "k long, v long, op string"
        )
        out = merge_changeset(
            base, changes, "k", validate_unique=False
        ).collect()
        assert len(out) == 2  # documented hazard the default guards against


class TestEditDistancePairs:
    BASE = "the quick brown fox jumps over the lazy dog while carrying apples"

    def _corpus(self):
        b = self.BASE[:64]
        assert len(b) == 64
        return [
            (1, b),
            (2, b[:10] + "X" + b[11:]),          # 1 substitution
            (3, b[:20] + b[21:] + "z"),          # 1 deletion (+pad keeps 64)
            (4, "ab" + b[:62]),                  # 2 insertions at the front
            (5, b[::-1]),                        # far away
            (6, "completely different text that shares nothing with the base x"),
        ]

    def test_matches_bruteforce_referee(self, spark):
        from presto_ethereum_spark.operators.dedup import edit_distance_pairs

        try:
            import Levenshtein as _  # noqa: F401
            raise AssertionError("unexpected lib")
        except ImportError:
            pass
        rows = self._corpus()
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r.id_a, r.id_b): r.edit_dist
            for r in edit_distance_pairs(df, max_edits=3, prefix_len=64).collect()
        }
        # brute-force referee via Spark's own levenshtein on all pairs
        norm = {i: " ".join(t.lower().split())[:64] for i, t in rows}
        full = spark.createDataFrame(
            [(a, b, norm[a], norm[b]) for a in norm for b in norm if a < b
             and len(norm[a]) == 64 and len(norm[b]) == 64],
            "id_a long, id_b long, pa string, pb string",
        ).select("id_a", "id_b", F.levenshtein("pa", "pb").alias("d"))
        want = {(r.id_a, r.id_b): r.d for r in full.collect() if r.d <= 3}
        assert got == want
        # and the hand-planted distances are really in there
        assert got[(1, 2)] == 1 and got[(1, 3)] == 2
        # doc 4's 2 front insertions ALSO truncate 2 tail chars -> dist 4
        assert (1, 4) not in got and (1, 5) not in got

    def test_indel_shift_not_missed_by_hamming(self, spark):
        from presto_ethereum_spark.operators.dedup import edit_distance_pairs

        # one char inserted at position 0 shifts EVERY chunk; the offset
        # window still catches it (Hamming chunk blocking cannot)
        b = self.BASE[:64]
        df = spark.createDataFrame(
            [(1, b), (2, "x" + b[:63])], "doc_id long, text string"
        )
        got = edit_distance_pairs(df, max_edits=3, prefix_len=64).collect()
        assert len(got) == 1 and got[0].edit_dist <= 3

    def test_prefix_len_divisibility_guard(self, spark):
        from presto_ethereum_spark.operators.dedup import edit_distance_pairs

        df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        with pytest.raises(ValueError):
            edit_distance_pairs(df, max_edits=3, prefix_len=62)


class TestTokenEntropy:
    def test_hand_computed(self, spark):
        import math

        from presto_ethereum_spark.operators.text import token_entropy

        rows = [
            (1, "a a a a"),      # n=4, ss=16 -> H2 = ln(1) = 0
            (2, "a b c d"),      # all distinct -> H2 = ln(4)
            (3, "a a b b"),      # ss=8 -> H2 = ln(16/8) = ln 2
            (4, ""),             # split('') -> [''] -> n=1, H2 = 0
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.doc_id: r for r in token_entropy(df).collect()}
        assert out[1].renyi2 == 0.0 and out[1].collision_sumsq == 16
        assert out[2].renyi2 == round(math.log(4), 6)
        assert out[3].renyi2 == round(math.log(2), 6)
        assert out[3].n_distinct == 2 and out[3].n_tokens == 4
        assert out[4].n_tokens == 1 and out[4].renyi2 == 0.0

    def test_zero_shuffle_plan(self, spark):
        from presto_ethereum_spark.operators.text import token_entropy

        df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = (
            token_entropy(df)._jdf.queryExecution().executedPlan().toString()
        )
        # a pure projection: the token stream must never hit an exchange
        assert "Exchange" not in plan


class TestMaxConcurrency:
    def test_hand_computed(self, spark):
        from presto_ethereum_spark.operators.temporal import max_concurrency

        # [0,10) [5,15) [10,20): overlap only on [5,10) -> peak 2 at t=5;
        # the end-at-10 / start-at-10 touch does NOT count as overlap
        rows = [("g", 1, 0, 10), ("g", 2, 5, 15), ("g", 3, 10, 20),
                ("h", 4, 0, 1), ("h", 5, 1, 2)]  # disjoint chain -> peak 1
        df = spark.createDataFrame(rows, "k string, iid long, s long, e long")
        out = {r.k: r for r in
               max_concurrency(df, ["k"], "s", "e", "iid").collect()}
        assert out["g"].n_intervals == 3 and out["g"].peak == 2
        assert out["g"].t_at_peak == 5
        assert out["h"].peak == 1 and out["h"].t_at_peak == 0

    def test_partitioning_invariant(self, spark):
        from presto_ethereum_spark.operators.temporal import max_concurrency

        # nested pyramid: k intervals all covering t=50 -> peak = 5 and the
        # answer must not depend on input partitioning
        rows = [("p", i, i * 10, 100 - i * 10) for i in range(5)]
        df1 = spark.createDataFrame(rows, "k string, iid long, s long, e long")
        df8 = df1.repartition(8)
        r1 = max_concurrency(df1, ["k"], "s", "e", "iid").collect()[0]
        r8 = max_concurrency(df8, ["k"], "s", "e", "iid").collect()[0]
        assert (r1.peak, r1.t_at_peak) == (r8.peak, r8.t_at_peak) == (5, 40)

    def test_single_scan_plan(self, spark):
        from presto_ethereum_spark.operators.temporal import max_concurrency

        df = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
            "event_type", "event_id",
            F.col("event_id").alias("s"), (F.col("event_id") + 100).alias("e"),
        )
        plan = (
            max_concurrency(df, ["event_type"], "s", "e", "event_id")
            ._jdf.queryExecution().executedPlan().toString()
        )
        # the edge pair explodes from ONE scan (a union would read twice),
        # and the window + final agg share one key exchange
        assert plan.count("FileScan parquet") == 1
        assert plan.count("Exchange hashpartitioning") == 1


class TestFirstOccurrenceRollups:
    def test_vocab_growth_hand_computed(self, spark):
        from presto_ethereum_spark.plans import battery
        import tempfile, os

        # bucket 0: docs 0..99 -> here docs 0,1; bucket 1: doc 100
        rows = [(0, "a b"), (1, "b c"), (100, "c d e")]
        with tempfile.TemporaryDirectory() as td:
            spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
                os.path.join(td, "documents.parquet")
            )
            out = {r.bucket: r for r in
                   battery.doc_vocab_growth(spark, td).collect()}
        # bucket 0: tokens a,b,b,c (4); new types a,b,c (3)
        assert (out[0].n_tokens, out[0].new_types, out[0].vocab_size) == (4, 3, 3)
        # bucket 1: tokens c,d,e (3); new d,e (2); vocab 5
        assert (out[1].n_tokens, out[1].new_types, out[1].vocab_size) == (3, 2, 5)
        assert out[1].corpus_tokens == 7

    def test_cumulative_users_hand_computed(self, spark):
        from presto_ethereum_spark.plans import battery
        import tempfile, os
        import datetime

        day = 86_400_000_000  # us
        mk = lambda d: datetime.datetime(1970, 1, 1) + datetime.timedelta(days=d)
        rows = [
            (1, mk(0), 10, "click", 1.0, "{}"),
            (2, mk(0), 11, "click", 1.0, "{}"),
            (3, mk(1), 10, "view", 1.0, "{}"),   # returning
            (4, mk(1), 12, "view", 1.0, "{}"),   # new
        ]
        with tempfile.TemporaryDirectory() as td:
            spark.createDataFrame(
                rows,
                "event_id long, ts timestamp_ntz, user_id long,"
                " event_type string, value double, props string",
            ).write.parquet(os.path.join(td, "events.parquet"))
            out = {r.day: r for r in
                   battery.rel_cumulative_distinct_users(spark, td).collect()}
        assert (out[0].active_users, out[0].new_users, out[0].cumulative_users) == (2, 2, 2)
        assert (out[1].active_users, out[1].new_users, out[1].cumulative_users) == (2, 1, 3)


class TestJourneyStrings:
    def test_order_and_determinism(self, spark):
        from presto_ethereum_spark.plans import battery
        import tempfile, os
        import datetime

        mk = lambda d: datetime.datetime(1995, 1, d)
        rows = [
            # custkey 1: dates out of insertion order; same-date tie on key
            (5, 1, "P", mk(3)),
            (2, 1, "O", mk(1)),
            (3, 1, "F", mk(1)),
            (9, 2, "F", mk(2)),
        ]
        with tempfile.TemporaryDirectory() as td:
            spark.createDataFrame(
                rows,
                "o_orderkey long, o_custkey long, o_orderstatus string,"
                " o_orderdate timestamp_ntz",
            ).write.parquet(os.path.join(td, "orders.parquet"))
            out = {r.custkey: r for r in
                   battery.rel_journey_strings(spark, td).collect()}
        # date asc, then orderkey asc within the tie: O(key2) -> F(key3) -> P
        assert out[1].journey == "O>F>P" and out[1].n_orders == 3
        assert out[2].journey == "F"
        # determinism under different partitioning
        with tempfile.TemporaryDirectory() as td:
            spark.createDataFrame(
                rows,
                "o_orderkey long, o_custkey long, o_orderstatus string,"
                " o_orderdate timestamp_ntz",
            ).repartition(7).write.parquet(os.path.join(td, "orders.parquet"))
            out2 = {r.custkey: r.journey for r in
                    battery.rel_journey_strings(spark, td).collect()}
        assert out2 == {k: v.journey for k, v in out.items()}


class TestKhopReachability:
    def _g(self, spark, edges):
        return spark.createDataFrame(
            [Row(src=a, dst=b) for a, b in edges], "src long, dst long"
        )

    def _levels(self, spark, edges, seeds, k):
        from presto_ethereum_spark.operators import graph

        s = spark.createDataFrame([Row(addr=a) for a in seeds], "addr long")
        out = graph.khop_reachability(self._g(spark, edges), s, k=k)
        return {r["addr"]: r["hop"] for r in out.collect()}

    def test_diamond_with_cycle_min_hop(self, spark):
        # 0->1, 0->2, 1->3, 2->3, 3->0 (cycle back to the seed): min-hop
        # must win — 3 is at hop 2 (via either branch), 0 stays at 0
        # despite being re-reachable at hop 3
        edges = [(0, 1), (0, 2), (1, 3), (2, 3), (3, 0)]
        assert self._levels(spark, edges, [0], k=3) == {0: 0, 1: 1, 2: 1, 3: 2}

    def test_depth_bound_cuts_chain(self, spark):
        edges = [(0, 1), (1, 2), (2, 3), (3, 4)]
        assert self._levels(spark, edges, [0], k=2) == {0: 0, 1: 1, 2: 2}

    def test_empty_frontier_early_exit_and_multi_seed(self, spark):
        # two seeds, disconnected sink: BFS drains at hop 1 and k=5 must
        # not loop; seed set rows dedupe
        edges = [(0, 1), (7, 8)]
        got = self._levels(spark, edges, [0, 7, 7], k=5)
        assert got == {0: 0, 7: 0, 1: 1, 8: 1}

    def test_k_zero_is_seed_census(self, spark):
        assert self._levels(spark, [(0, 1)], [0], k=0) == {0: 0}

    def test_matches_spark_native_recursive_cte(self, spark):
        # the operator's contract: identical levels to the engine's own
        # WITH RECURSIVE on the same edge list (random-ish 30-edge graph).
        # Spark 4 only supports UNION ALL recursion (rows = paths, safe
        # here because hop < 3 bounds the depth); min(hop) dedupes after —
        # exactly why the DataFrame BFS, which dedups per level, is the
        # scale path
        edges = [((7 * i) % 13, (5 * i + 3) % 13) for i in range(30)]
        e = self._g(spark, edges).distinct()
        e.createOrReplaceTempView("khop_edges")
        native = spark.sql(
            """
            WITH RECURSIVE r(addr, hop) AS (
              SELECT CAST(0 AS LONG), 0
              UNION ALL
              SELECT e.dst, r.hop + 1 FROM r JOIN khop_edges e
              ON e.src = r.addr WHERE r.hop < 3
            )
            SELECT addr, min(hop) AS hop FROM r GROUP BY addr
            """
        )
        want = {r["addr"]: r["hop"] for r in native.collect()}
        assert self._levels(spark, edges, [0], k=3) == want


class TestSimhashHammingTruth:
    def test_bruteforce_referee_and_chunk_layout(self, spark):
        # 90 word-soup docs with planted near-dup families: the pigeonhole
        # truth must equal brute-force Hamming<=6 over the SAME signatures
        import itertools
        import random

        from presto_ethereum_spark.operators.dedup import (
            simhash,
            simhash_hamming_truth,
        )

        rng = random.Random(7)
        vocab = [f"w{i}" for i in range(400)]
        docs = []
        for i in range(30):
            base = rng.sample(vocab, 40)
            docs.append((3 * i, " ".join(base)))
            mut1 = list(base)
            mut1[rng.randrange(40)] = rng.choice(vocab)  # near dup
            docs.append((3 * i + 1, " ".join(mut1)))
            docs.append((3 * i + 2, " ".join(rng.sample(vocab, 40))))
        d = spark.createDataFrame(docs, "doc_id long, text string")
        sigs = {
            r["doc_id"]: r["sh"]
            for r in d.select("doc_id", simhash(F.col("text")).alias("sh")).collect()
        }
        want = {
            (a, b): bin(sigs[a] ^ sigs[b]).count("1")
            for a, b in itertools.combinations(sorted(sigs), 2)
            if bin(sigs[a] ^ sigs[b]).count("1") <= 6
        }
        got = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in simhash_hamming_truth(d, max_hamming=6).collect()
        }
        assert got == want
        assert len(want) > 0  # the planted families must actually land

    def test_chunks_cover_all_bits(self):
        # the divmod layout must tile the 60-bit signature exactly for any
        # max_hamming the pigeonhole argument supports
        for mh in range(0, 20):
            n = mh + 1
            base, extra = divmod(60, n)
            widths = [base + (1 if c < extra else 0) for c in range(n)]
            assert sum(widths) == 60 and all(w >= 1 for w in widths)


class TestZipfSlope:
    def test_matches_numpy_polyfit(self, spark):
        # planted corpus with known frequency structure; the operator's
        # explicit-sum OLS must match numpy's lstsq fit on the same
        # (rank, count) points to float tolerance
        import math

        import numpy as np

        from presto_ethereum_spark.operators.text import zipf_slope

        docs = []
        did = 0
        for g, scale in (("en", 1), ("de", 3)):
            toks = []
            for i in range(1, 60):
                toks += [f"t{i:03d}"] * max(1, (600 * scale) // (i + scale))
            for s in range(0, len(toks), 40):
                docs.append((did, " ".join(toks[s : s + 40]), g))
                did += 1
        d = spark.createDataFrame(docs, "doc_id long, text string, lang string")
        got = {r["lang"]: r for r in zipf_slope(d, top_k=50).collect()}
        rows = d.toPandas()
        for g in ("en", "de"):
            from collections import Counter

            cnt = Counter(
                tok
                for t in rows[rows.lang == g].text
                for tok in t.split(" ")
                if tok
            )
            pts = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
            x = np.log(np.arange(1, len(pts) + 1, dtype=float))
            y = np.log(np.array([c for _, c in pts], dtype=float))
            slope, intercept = np.polyfit(x, y, 1)
            assert got[g]["n_types"] == len(pts)
            assert got[g]["top_count"] == pts[0][1]
            assert math.isclose(got[g]["slope"], slope, abs_tol=5e-6)
            assert math.isclose(got[g]["intercept"], intercept, abs_tol=5e-6)

    def test_min_count_prunes_before_rank(self, spark):
        from presto_ethereum_spark.operators.text import zipf_slope

        d = spark.createDataFrame(
            [(0, "a a a b b c", "en")], "doc_id long, text string, lang string"
        )
        out = zipf_slope(d, top_k=10, min_count=2).collect()
        assert out[0]["n_types"] == 2  # c (count 1) pruned

    def test_single_token_group_yields_null_not_nan(self, spark):
        from presto_ethereum_spark.operators.text import zipf_slope

        # one ranked token -> x = ln(1) = 0 for the only point -> OLS
        # denominator 0; must gate like ols_trend and report NULL, never
        # a 0/0 NaN smuggled through round()
        d = spark.createDataFrame(
            [(0, "solo solo solo", "xx"), (1, "a a b c d e f g", "en")],
            "doc_id long, text string, lang string",
        )
        got = {r["lang"]: r for r in zipf_slope(d, top_k=10).collect()}
        assert got["xx"]["slope"] is None and got["xx"]["intercept"] is None
        assert got["en"]["slope"] is not None


class TestSortedNeighborhood:
    def test_global_sorted_index_dense_and_ordered(self, spark):
        import random

        from presto_ethereum_spark.operators.dedup import global_sorted_index

        rng = random.Random(11)
        rows = [(i, f"k{rng.randrange(50):03d}") for i in range(500)]
        df = spark.createDataFrame(rows, "id long, key string").repartition(13)
        got = {
            r["id"]: r["rn"]
            for r in global_sorted_index(df, ["key", "id"], parts=8).collect()
        }
        want = {
            i: rn
            for rn, (k, i) in enumerate(
                sorted((k, i) for i, k in rows), start=1
            )
        }
        assert got == want  # dense 1..n, exactly the total-order rank

    def test_pairs_match_bruteforce_window(self, spark):
        from presto_ethereum_spark.operators.dedup import (
            sorted_neighborhood_pairs,
        )

        # doc family: shared 40+-char openings, tails diverge -> sort-adjacent
        docs = []
        for fam in range(6):
            head = f"family {fam:02d} common boilerplate opening text block"
            for v in range(4):
                tail = " ".join(f"tok{fam}{v}{j}" for j in range(v + 1))
                docs.append((fam * 10 + v, f"{head} shared body words {tail}"))
        d = spark.createDataFrame(docs, "doc_id long, text string")
        w, min_j = 5, 0.4
        got = {
            (r["id_a"], r["id_b"]): (r["gap"], r["jaccard"])
            for r in sorted_neighborhood_pairs(
                d, window=w, key_len=40, min_jaccard=min_j
            ).collect()
        }
        # brute force: rank by (40-char normalized prefix, id), all pairs
        # within w-1 ranks, token-set jaccard with integer threshold
        norm = {i: " ".join(t.lower().split()) for i, t in docs}
        order = sorted((n[:40], i) for i, n in norm.items())
        want = {}
        for x in range(len(order)):
            for y in range(x + 1, min(x + w, len(order))):
                ia, ib = order[x][1], order[y][1]
                ta, tb = set(norm[ia].split()), set(norm[ib].split())
                i_, u_ = len(ta & tb), len(ta | tb)
                if u_ > 0 and i_ * 1_000_000 >= int(min_j * 1_000_000) * u_:
                    want[(ia, ib)] = (
                        y - x,
                        (2 * i_ * 10**6 + u_) // (2 * u_) / 1e6,
                    )
        assert got == want and len(want) >= 6


class TestCooccurrenceOverlap:
    def test_matches_bruteforce_sets(self, spark):
        import itertools
        import random

        from presto_ethereum_spark.operators.frequency import (
            cooccurrence_overlap,
        )

        rng = random.Random(3)
        items = [f"it{i}" for i in range(6)]
        rows = []
        member: dict[str, set[int]] = {it: set() for it in items}
        for u in range(120):
            for it in rng.sample(items, rng.randrange(1, 5)):
                # duplicate events must not inflate counts
                for _ in range(rng.randrange(1, 3)):
                    rows.append((u, it))
                member[it].add(u)
        df = spark.createDataFrame(rows, "user_id long, event_type string")
        got = {
            (r["item_a"], r["item_b"]): (
                r["n_both"],
                r["n_a"],
                r["n_b"],
                r["jaccard"],
            )
            for r in cooccurrence_overlap(df, "user_id", "event_type").collect()
        }
        want = {}
        for a, b in itertools.combinations(sorted(items), 2):
            both = len(member[a] & member[b])
            if both == 0:
                continue  # pair never co-occurs -> absent from the matrix
            un = len(member[a] | member[b])
            want[(a, b)] = (
                both,
                len(member[a]),
                len(member[b]),
                (2 * both * 10**6 + un) // (2 * un) / 1e6,
            )
        assert got == want and len(want) == 15


class TestKsDrift:
    def test_matches_bruteforce_ecdf(self, spark):
        import random
        from fractions import Fraction

        from presto_ethereum_spark.operators.text import ks_drift

        rng = random.Random(5)
        data = {
            "s0": [rng.randrange(0, 40) for _ in range(300)],
            "s1": [rng.randrange(10, 60) for _ in range(211)],  # shifted
            "s2": [rng.randrange(0, 40) for _ in range(97)],  # same law as s0
        }
        rows = [
            (i, s, v)
            for i, (s, v) in enumerate(
                (s, v) for s, vs in data.items() for v in vs
            )
        ]
        df = spark.createDataFrame(rows, "doc_id long, source string, n_chars int")
        got = {
            (r["slice_a"], r["slice_b"]): (
                r["n_a"],
                r["n_b"],
                r["ks_num"],
                r["ks_e6"],
            )
            for r in ks_drift(df, "source", "n_chars").collect()
        }
        names = sorted(data)
        want = {}
        for x in range(len(names)):
            for y in range(x + 1, len(names)):
                a, b = sorted(data[names[x]]), sorted(data[names[y]])
                na, nb = len(a), len(b)
                vals = sorted(set(a) | set(b))
                ks_num = max(
                    abs(
                        sum(1 for t in a if t <= v) * nb
                        - sum(1 for t in b if t <= v) * na
                    )
                    for v in vals
                )
                want[(names[x], names[y])] = (
                    na,
                    nb,
                    ks_num,
                    int(Fraction(ks_num * 10**6, na * nb)),
                )
        assert got == want
        # the shifted slice must register more drift than the same-law pair
        assert got[("s0", "s1")][3] > got[("s0", "s2")][3]


class TestHardNegatives:
    def test_excludes_same_label_and_matches_bruteforce(self, spark):
        import math
        import random

        from presto_ethereum_spark.operators.similarity import hard_negatives

        rng = random.Random(9)
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(8)], i % 3)
            for i in range(60)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
        got = {}
        for r in hard_negatives(df, df.where("vec_id < 4"), k=3).collect():
            got.setdefault(r["query_id"], []).append(
                (r["rank"], r["neighbor_id"], r["neighbor_label"], r["sim"])
            )
        # float32 storage: replicate the cast the operator sees
        import struct

        f32 = lambda x: struct.unpack("f", struct.pack("f", x))[0]
        vecs = {i: [f32(x) for x in v] for i, v, _ in rows}
        lab = {i: l for i, _, l in rows}
        for qid in range(4):
            cands = []
            for nid in vecs:
                if nid == qid or lab[nid] == lab[qid]:
                    continue
                d = sum(a * b for a, b in zip(vecs[qid], vecs[nid]))
                na = math.sqrt(sum(a * a for a in vecs[qid]))
                nb = math.sqrt(sum(b * b for b in vecs[nid]))
                cands.append((-(d / na / nb), nid))
            cands.sort()
            want = [
                (rk + 1, nid, lab[nid])
                for rk, (_, nid) in enumerate(cands[:3])
            ]
            have = sorted(got[qid])
            assert [(r, n, l) for r, n, l, _ in have] == want
            for (_, _, nl, s), (negsim, _) in zip(have, cands[:3]):
                assert nl != lab[qid]
                assert math.isclose(s, -negsim, abs_tol=2e-6)


class TestLangidKappa:
    def test_consistent_with_confusion_matrix(self, spark):
        from collections import Counter

        from presto_ethereum_spark.plans.battery import queries

        sf = "/root/testdata/sf0.001"
        conf = {
            (r["true_lang"], r["pred_lang"]): r["n"]
            for r in queries()["doc_langid_confusion"](spark, sf).collect()
        }
        got = queries()["doc_langid_kappa"](spark, sf).collect()[0]
        n = sum(conf.values())
        agree = sum(v for (t, p), v in conf.items() if t == p)
        rows, cols = Counter(), Counter()
        for (t, p), v in conf.items():
            rows[t] += v
            cols[p] += v
        chance = sum(rows[c] * cols.get(c, 0) for c in rows | cols.keys())
        num, den = n * agree - chance, n * n - chance
        want_e6 = (
            num * 10**6 // den if num >= 0 else -((-num) * 10**6 // den)
        )
        assert (got["n_docs"], got["n_agree"], got["chance_num"]) == (
            n,
            agree,
            chance,
        )
        assert got["kappa_e6"] == want_e6
        # sf0.001's tiny corpus lands slightly BELOW chance — which makes
        # this referee hit the negative sign-decomposition branch for real
        assert -(10**6) <= got["kappa_e6"] <= 10**6


class TestGroupedPercentileDisc:
    def test_matches_sorted_scan_reference(self, spark):
        import random

        from presto_ethereum_spark.operators.stats import (
            grouped_percentile_disc,
        )

        rng = random.Random(13)
        rows = [
            (f"g{i % 4}", rng.choice([1, 2, 2, 3, 5, 8, 8, 8, 13, 21]))
            for i in range(400)
        ]
        df = spark.createDataFrame(rows, "grp string, v int")
        qs = [("p25", 1, 4), ("p50", 1, 2), ("p90", 9, 10), ("p100", 1, 1)]
        got = {
            r["grp"]: (r["n"], r["p25"], r["p50"], r["p90"], r["p100"])
            for r in grouped_percentile_disc(df, ["grp"], "v", qs).collect()
        }
        by_g: dict[str, list[int]] = {}
        for g_, v in rows:
            by_g.setdefault(g_, []).append(v)
        for g_, vs in by_g.items():
            vs.sort()
            n = len(vs)

            def disc(num, den):
                # smallest value whose cumulative frequency >= num/den
                for i, v in enumerate(vs, start=1):
                    if i * den >= num * n:
                        return v
                raise AssertionError

            assert got[g_] == (
                n,
                disc(1, 4),
                disc(1, 2),
                disc(9, 10),
                disc(1, 1),
            )
        # p100 must be the max; each quantile is an actual input value
        for g_, (_, _, _, _, p100) in got.items():
            assert p100 == max(by_g[g_])


class TestPPJoinPairs:
    def test_lossless_vs_bruteforce(self, spark):
        import itertools
        import random

        from presto_ethereum_spark.operators.dedup import ppjoin_pairs

        rng = random.Random(17)
        vocab = [f"w{i}" for i in range(120)]
        docs = []
        for i in range(40):
            base = rng.sample(vocab, rng.randrange(6, 14))
            docs.append((2 * i, " ".join(base)))
            # mutate a couple tokens -> a mix of above/below threshold
            mut = list(base)
            for _ in range(rng.randrange(0, 4)):
                mut[rng.randrange(len(mut))] = rng.choice(vocab)
            docs.append((2 * i + 1, " ".join(mut)))
        d = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ppjoin_pairs(d, 3, 5, shingle_n=None).collect()
        }
        sets = {i: set(t.lower().split()) for i, t in docs}
        want = {}
        for a, b in itertools.combinations(sorted(sets), 2):
            i_ = len(sets[a] & sets[b])
            u_ = len(sets[a] | sets[b])
            if i_ * 5 >= 3 * u_:
                want[(a, b)] = (2 * i_ * 10**6 + u_) // (2 * u_) / 1e6
        assert got == want  # prefix filtering dropped NOTHING
        assert len(want) >= 10

    def test_shingle_mode_lossless(self, spark):
        import itertools
        import random

        from presto_ethereum_spark.operators.dedup import ppjoin_pairs

        rng = random.Random(23)
        vocab = [f"w{i}" for i in range(60)]
        docs = []
        for i in range(25):
            base = [rng.choice(vocab) for _ in range(20)]
            docs.append((2 * i, " ".join(base)))
            mut = list(base)
            for _ in range(rng.randrange(0, 3)):
                mut[rng.randrange(len(mut))] = rng.choice(vocab)
            docs.append((2 * i + 1, " ".join(mut)))
        d = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ppjoin_pairs(d, 3, 5, shingle_n=3).collect()
        }

        def shingles(t):
            toks = t.lower().split()
            return {
                " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
            }

        sets = {i: shingles(t) for i, t in docs}
        want = {}
        for a, b in itertools.combinations(sorted(sets), 2):
            i_ = len(sets[a] & sets[b])
            u_ = len(sets[a] | sets[b])
            if u_ > 0 and i_ * 5 >= 3 * u_:
                want[(a, b)] = (2 * i_ * 10**6 + u_) // (2 * u_) / 1e6
        assert got == want and len(want) >= 5


class TestChisqIndependence:
    def test_matches_textbook_formula(self, spark):
        from fractions import Fraction

        from presto_ethereum_spark.plans.battery import queries

        sf = "/root/testdata/sf0.001"
        rows = queries()["rel_chisq_independence"](spark, sf).collect()
        assert rows
        for r in rows:
            a, b, c, d = r["a"], r["b"], r["c"], r["d"]
            n = a + b + c + d
            chisq = Fraction(
                n * (a * d - b * c) ** 2,
                (a + b) * (c + d) * (a + c) * (b + d),
            )
            assert r["chisq_e6"] == int(chisq * 10**6)  # exact floor
            # cross-check against the expected-counts formulation
            exp = [
                Fraction((a + b) * (a + c), n),
                Fraction((a + b) * (b + d), n),
                Fraction((c + d) * (a + c), n),
                Fraction((c + d) * (b + d), n),
            ]
            obs = [a, b, c, d]
            alt = sum(
                (o - e) ** 2 / e for o, e in zip(obs, exp) if e != 0
            )
            assert alt == chisq


class TestCountCosinePairs:
    def test_matches_bruteforce_and_sees_repetition(self, spark):
        import itertools
        import math
        from collections import Counter

        from presto_ethereum_spark.operators.dedup import count_cosine_pairs

        base = "alpha beta gamma delta epsilon zeta eta theta"
        docs = [
            (0, base),
            (1, base),  # identical -> cosine 1
            (2, " ".join([base] * 5)),  # 5x repetition: same shingle SET
            (3, "alpha beta gamma delta nine ten eleven twelve"),
            (4, "one two three four five six seven eight"),
        ]
        d = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            (r["id_a"], r["id_b"]): (r["dot"], r["cosine"])
            for r in count_cosine_pairs(d, 3, 5).collect()
        }

        def shingle_counts(t):
            toks = t.split(" ")
            return Counter(
                " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
            )

        cnt = {i: shingle_counts(t) for i, t in docs}
        want = {}
        for a, b in itertools.combinations(sorted(cnt), 2):
            dot = sum(cnt[a][s] * cnt[b][s] for s in cnt[a])
            na2 = sum(v * v for v in cnt[a].values())
            nb2 = sum(v * v for v in cnt[b].values())
            if dot * dot * 25 >= 9 * na2 * nb2:
                want[(a, b)] = (dot, dot / (math.sqrt(na2) * math.sqrt(nb2)))
        assert set(got) == set(want)
        for k, (dot, cos) in want.items():
            assert got[k][0] == dot
            assert math.isclose(got[k][1], cos, abs_tol=1e-6)
        assert got[(0, 1)][1] == 1.0
        # 5x repetition: the repeated doc leans toward the wrap-around
        # shingles it repeats, so cosine(0, 2) < 1 even though the pair is
        # set-identical on 0's shingles — the signal Jaccard cannot see
        assert (0, 2) in got and got[(0, 2)][1] < 1.0


class TestGiniRevenue:
    def test_matches_fraction_reference_and_bounds(self, spark):
        from fractions import Fraction

        from presto_ethereum_spark.plans.battery import queries

        sf = "/root/testdata/sf0.001"
        rows = queries()["rel_gini_revenue"](spark, sf).collect()
        assert rows
        import duckdb

        con = duckdb.connect()
        per_cust = con.sql(
            f"""
            SELECT n.n_name, c.c_custkey,
                   coalesce(sum(CAST(round(o.o_totalprice*100) AS BIGINT)), 0) AS cents
            FROM read_parquet('{sf}/customer.parquet') c
            JOIN read_parquet('{sf}/nation.parquet') n
              ON c.c_nationkey = n.n_nationkey
            LEFT JOIN read_parquet('{sf}/orders.parquet') o
              ON o.o_custkey = c.c_custkey
            GROUP BY 1, 2
            """
        ).fetchall()
        by_nation: dict[str, list[int]] = {}
        for name, _, cents in per_cust:
            by_nation.setdefault(name, []).append(int(cents))
        for r in rows:
            xs = sorted(by_nation[r["n_name"]])
            n, tot = len(xs), sum(xs)
            ranked = sum(i * x for i, x in enumerate(xs, start=1))
            gini = Fraction(2 * ranked - (n + 1) * tot, n * tot)
            assert r["n_customers"] == n and r["total_cents"] == tot
            assert r["gini_e6"] == int(gini * 10**6)
            assert 0 <= r["gini_e6"] < 10**6  # Gini lives in [0, 1)


class TestAbcAndReciprocity:
    def test_abc_partition_is_exhaustive_and_exclusive(self, spark):
        from presto_ethereum_spark.plans.battery import queries

        sf = "/root/testdata/sf0.001"
        rows = {
            r["cls"]: (r["n_parts"], r["revenue_cents"])
            for r in queries()["rel_abc_classification"](spark, sf).collect()
        }
        import duckdb

        total = duckdb.sql(
            f"""SELECT count(DISTINCT l_partkey),
                       sum(CAST(round(l_extendedprice*100) AS BIGINT))
                FROM read_parquet('{sf}/lineitem.parquet')"""
        ).fetchone()
        assert sum(n for n, _ in rows.values()) == total[0]
        assert sum(c for _, c in rows.values()) == total[1]
        # Pareto shape: A holds <= 80% of revenue in far fewer parts than C
        if "A" in rows and "C" in rows:
            assert rows["A"][1] * rows["C"][0] > rows["C"][1] * rows["A"][0]

    def test_reciprocity_bruteforce(self, spark):
        from presto_ethereum_spark.plans.battery import queries

        got = queries()["eth_graph_reciprocity"](
            spark, "/root/testdata/sf0.001"
        ).collect()[0]
        import duckdb

        edges = set(
            duckdb.sql(
                """SELECT DISTINCT tx_from, tx_to
                   FROM read_parquet('fixtures/eth/transaction.parquet')
                   WHERE tx_to IS NOT NULL AND tx_from <> tx_to"""
            ).fetchall()
        )
        recip = sum(1 for s, d in edges if (d, s) in edges)
        assert got["n_edges"] == len(edges)
        assert got["n_reciprocal"] == recip
        assert got["n_mutual_pairs"] == recip // 2


class TestMinerHhi:
    def test_matches_fraction_reference(self, spark):
        from collections import Counter
        from fractions import Fraction

        import duckdb

        from presto_ethereum_spark.plans.battery import queries

        got = {
            r["epoch"]: r
            for r in queries()["eth_miner_hhi"](
                spark, "/root/testdata/sf0.001"
            ).collect()
        }
        rows = duckdb.sql(
            "SELECT block_number // 1000, block_miner"
            " FROM read_parquet('fixtures/eth/block.parquet')"
        ).fetchall()
        per_epoch: dict[int, Counter] = {}
        for ep, m in rows:
            per_epoch.setdefault(int(ep), Counter())[m] += 1
        assert set(got) == set(per_epoch)
        for ep, cnt in per_epoch.items():
            n = sum(cnt.values())
            ss = sum(v * v for v in cnt.values())
            r = got[ep]
            assert (r["n_blocks"], r["n_miners"], r["top_blocks"]) == (
                n,
                len(cnt),
                max(cnt.values()),
            )
            assert r["hhi_e6"] == int(Fraction(ss * 10**6, n * n))
            # HHI lives in [1e6/k, 1e6]
            assert 10**6 // len(cnt) <= r["hhi_e6"] <= 10**6


class TestTokenBurstiness:
    def test_matches_fraction_reference(self, spark):
        from collections import Counter
        from fractions import Fraction

        from presto_ethereum_spark.operators.text import token_burstiness

        # planted: 'bursty' appears 5x in few docs; 'flat' 1x in many docs
        docs = []
        for i in range(40):
            parts = ["flat"]
            if i % 8 == 0:
                parts += ["bursty"] * 5
            parts += [f"filler{i % 7}"]
            docs.append((i, " ".join(parts)))
        d = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r["tok"]: (r["df"], r["total_c"], r["vmr_e6"])
            for r in token_burstiness(d, k=20).collect()
        }
        n = len(docs)
        by_tok: dict[str, Counter] = {}
        for i, t in docs:
            for tok, c in Counter(t.split()).items():
                by_tok.setdefault(tok, Counter())[i] = c
        for tok, cnt in by_tok.items():
            s1 = sum(cnt.values())
            s2 = sum(v * v for v in cnt.values())
            want = int(Fraction((n * s2 - s1 * s1) * 10**6, (n - 1) * s1))
            assert got[tok] == (len(cnt), s1, want)
        # the planted signal: bursty token far exceeds the Poisson-ish one
        assert got["bursty"][2] > 3 * got["flat"][2]


class TestInterarrivalBurstiness:
    def test_regular_zero_bursty_positive(self, spark, tmp_path):
        from fractions import Fraction

        rows, eid = [], 0
        # regular: constant 1000us gaps -> CV2 - 1 == 0 exactly
        # bursty: alternating 1us / 10000us gaps -> CV2 - 1 >> 0
        for u in range(10):
            t = 0
            for _ in range(50):
                t += 1000
                rows.append((eid, t * 1000, u, "regular", 0.0, "{}"))
                eid += 1
            t = 0
            for j in range(50):
                t += 1 if j % 2 else 10_000
                rows.append((eid, t * 1000, u, "bursty", 0.0, "{}"))
                eid += 1
        df = spark.createDataFrame(
            rows,
            "event_id long, ts long, user_id long, event_type string,"
            " value double, props string",
        )
        df.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / "events.parquet")
        )
        import presto_ethereum_spark.plans.battery as b

        got = {
            r["event_type"]: r
            for r in b.queries()["rel_interarrival_burstiness"](
                spark, str(tmp_path)
            ).collect()
        }
        # referee: exact Fraction over the same gaps
        gaps = {"regular": [], "bursty": []}
        last: dict[tuple, int] = {}
        for eid_, ts, u, et, _, _ in sorted(rows, key=lambda r: (r[1], r[0])):
            k = (et, u)
            if k in last:
                g = (ts - last[k]) // 1000
                if g > 0:
                    gaps[et].append(g)
            last[k] = ts
        for et, gs in gaps.items():
            n, s1, s2 = len(gs), sum(gs), sum(g * g for g in gs)
            want = int(Fraction(n * s2 * 10**6, s1 * s1)) - 10**6
            assert got[et]["n_gaps"] == n
            assert got[et]["total_gap_us"] == s1
            assert got[et]["cv2_minus1_e6"] == want
        assert got["regular"]["cv2_minus1_e6"] == 0
        assert got["bursty"]["cv2_minus1_e6"] > 500_000


class TestWhaleClusters:
    def test_string_id_components_match_bruteforce(self, spark):
        from presto_ethereum_spark.operators.dedup import dup_clusters

        # hex-address-style STRING ids through the generalized closure
        edges = [
            ("0xaa", "0xbb"), ("0xbb", "0xcc"),  # chain of 3
            ("0xdd", "0xee"),                      # pair
            ("0x01", "0xff"), ("0x01", "0x02"),   # star, min = 0x01
        ]
        e = spark.createDataFrame(edges, "id_a string, id_b string")
        got = {
            r["doc_id"]: (r["cluster_id"], r["cluster_size"])
            for r in dup_clusters(e).collect()
        }
        want = {
            "0xaa": ("0xaa", 3), "0xbb": ("0xaa", 3), "0xcc": ("0xaa", 3),
            "0xdd": ("0xdd", 2), "0xee": ("0xdd", 2),
            "0x01": ("0x01", 3), "0xff": ("0x01", 3), "0x02": ("0x01", 3),
        }
        assert got == want


class TestJlRecall:
    def test_projection_matches_numpy_and_recall_sane(self, spark):
        import hashlib

        import numpy as np

        from presto_ethereum_spark.operators.similarity import (
            _jl_matrix,
            jl_project_quantized,
            jl_recall_report,
        )

        rng = np.random.default_rng(41)
        vecs = rng.standard_normal((80, 64)).astype(np.float32)
        df = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(80)],
            "vec_id long, embedding array<float>",
        )
        got = {
            r["id"]: list(r["jl"])
            for r in jl_project_quantized(df, out_dim=16).collect()
        }
        mat = np.array(_jl_matrix(64, 16), dtype=np.int64)  # (16, 64)
        vq = np.floor(vecs.astype(np.float64) * (1 << 20)).astype(np.int64)
        want = vq @ mat.T  # (80, 16) exact integer
        for i in range(80):
            assert got[i] == list(want[i])
        # matrix derivation is the documented public-hash construction
        h = int(hashlib.md5(b"jl:0:0").hexdigest()[:15], 16) % 6
        assert mat[0][0] == (1 if h == 0 else (-1 if h == 1 else 0))

        # recall: every probe reports an overlap in [0, 10]; JL at 16 dims
        # on gaussian data retrieves a decent share of true neighbors
        rep = {r["query_id"]: r["n_overlap"]
               for r in jl_recall_report(df, n_queries=5, k=10).collect()}
        assert set(rep) == set(range(5))
        assert all(0 <= v <= 10 for v in rep.values())
        assert sum(rep.values()) >= 15  # >= 30% mean recall on 80 docs


class TestJlRerank:
    def test_wide_prefilter_equals_bruteforce(self, spark):
        import numpy as np

        from presto_ethereum_spark.operators.similarity import jl_rerank_topk

        rng = np.random.default_rng(43)
        vecs = rng.standard_normal((60, 64)).astype(np.float32)
        df = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(60)],
            "vec_id long, embedding array<float>",
        )
        # prefilter wider than the corpus -> stage 1 keeps everyone ->
        # result MUST equal the exact brute-force top-k, flag all-true
        out = jl_rerank_topk(df, n_queries=3, k=5, prefilter_k=100).collect()
        got = {}
        for r in out:
            got.setdefault(r["query_id"], []).append(
                (r["rank"], r["neighbor_id"], r["d2"], r["in_exact_topk"])
            )
        vq = np.floor(vecs.astype(np.float64) * (1 << 20)).astype(np.int64)
        for q in range(3):
            d2 = ((vq - vq[q]) ** 2).sum(axis=1)
            order = sorted(
                (int(d2[i]), i) for i in range(60) if i != q
            )[:5]
            want = [
                (rk + 1, nid, dd, True)
                for rk, (dd, nid) in enumerate(order)
            ]
            assert sorted(got[q]) == want


class TestSq8:
    def test_codes_in_range_and_reconstruction_bounded(self, spark):
        from presto_ethereum_spark.operators.similarity import (
            SQ8_SCALE,
            sq8_codes,
        )

        e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        rows = sq8_codes(e).collect()
        assert all(0 <= r.q <= 255 for r in rows)
        # reconstruction error bounded by one bucket width per dim
        import collections

        mn = collections.defaultdict(lambda: 2**63)
        mx = collections.defaultdict(lambda: -(2**63))
        for x in e.collect():
            for d, v in enumerate(x.embedding):
                xs = math.floor(float(v) * SQ8_SCALE)
                mn[d] = min(mn[d], xs)
                mx[d] = max(mx[d], xs)
        for r in rows[:200]:
            width = (mx[r.dim] - mn[r.dim]) / 255.0
            # num/255 lies within one bucket of the true snapped value
            lo = mn[r.dim] + r.q * (mx[r.dim] - mn[r.dim]) / 255.0
            assert lo - 1e-9 <= r.num / 255.0 <= lo + width + 1e-9

    def test_topk_matches_numpy_referee(self, spark):
        import numpy as np

        from presto_ethereum_spark.operators.similarity import (
            SQ8_SCALE,
            sq8_topk,
        )

        e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        got = {
            (r.query_id, r.rank): r.neighbor_id
            for r in sq8_topk(
                e, e.where("vec_id < 3"), k=5
            ).collect()
        }
        data = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in e.collect()}
        xs = {
            i: np.floor(v * SQ8_SCALE).astype(np.int64) for i, v in data.items()
        }
        dims = len(next(iter(xs.values())))
        mn = np.min(np.stack(list(xs.values())), axis=0)
        mx = np.max(np.stack(list(xs.values())), axis=0)
        rng = np.where(mx > mn, mx - mn, 1)
        num = {
            i: mn * 255 + np.where(mx > mn, (v - mn) * 255 // rng, 0) * (mx - mn)
            for i, v in xs.items()
        }
        for qid in range(3):
            sims = []
            for nid, cv in num.items():
                if nid == qid:
                    continue
                dot = float(np.dot(xs[qid].astype(object), cv.astype(object)))
                qn2 = float(np.dot(xs[qid].astype(object), xs[qid].astype(object)))
                cn2 = float(np.dot(cv.astype(object), cv.astype(object)))
                sims.append((-dot / (math.sqrt(qn2) * math.sqrt(cn2)), nid))
            sims.sort()
            for rank, (_, nid) in enumerate(sims[:5], start=1):
                assert got[(qid, rank)] == nid


class TestKmvDistinct:
    def test_matches_pure_python_sketch(self, spark):
        import hashlib

        from presto_ethereum_spark.operators.frequency import kmv_distinct

        rows = [(f"g{i % 3}", i % 200) for i in range(5000)]
        df = spark.createDataFrame(rows, "g string, key long")
        got = {r.g: r for r in kmv_distinct(df, "g", "key", k=16).collect()}
        for gi in range(3):
            g = f"g{gi}"
            keys = {k for gg, k in rows if gg == g}
            hvs = sorted(
                {
                    int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16)
                    for k in keys
                }
            )
            kth = hvs[15]
            est = (15 * (2**60)) // kth
            r = got[g]
            assert r.exact_distinct == len(keys)
            assert r.kth_min == kth and r.est_distinct == est

    def test_small_group_falls_back_to_exact(self, spark):
        from presto_ethereum_spark.operators.frequency import kmv_distinct

        df = spark.createDataFrame(
            [("g", i) for i in range(5)], "g string, key long"
        )
        [r] = kmv_distinct(df, "g", "key", k=64).collect()
        assert r.kth_min is None and r.est_distinct == 5 == r.exact_distinct

    def test_estimate_within_expected_error(self, spark):
        from presto_ethereum_spark.operators.frequency import kmv_distinct

        df = spark.createDataFrame(
            [("g", i) for i in range(10000)], "g string, key long"
        )
        [r] = kmv_distinct(df, "g", "key", k=256).collect()
        # KMV std err ~ 1/sqrt(k-2) ~ 6.3%; allow 4 sigma
        assert abs(r.est_distinct - 10000) < 10000 * 0.25


class TestRakeKeywords:
    def test_hand_computed_scores(self, spark):
        from presto_ethereum_spark.operators.text import rake_keywords

        # phrases: "deep learning", "systems"; "deep learning" again
        df = spark.createDataFrame(
            [
                (0, "deep learning of systems"),
                (1, "the deep learning"),
            ],
            "doc_id long, text string",
        )
        out = {r.phrase: r for r in rake_keywords(df, top_k=10).collect()}
        # word stats: deep: freq 2, deg 2+2=4 -> 2.0; learning: same;
        # systems: freq 1, deg 1 -> 1.0
        assert out["deep learning"].score_e6 == 4_000_000
        assert out["deep learning"].n_words == 2
        assert out["systems"].score_e6 == 1_000_000
        assert out["deep learning"].rank == 1

    def test_stopwords_never_in_phrases(self, spark):
        from presto_ethereum_spark.operators.text import (
            EN_STOPWORDS,
            rake_keywords,
        )

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        for r in rake_keywords(docs, top_k=50).collect():
            assert not set(r.phrase.split(" ")) & set(EN_STOPWORDS)


class TestKmvSetOps:
    def test_matches_pure_python_theta_sketch(self, spark):
        import hashlib

        from presto_ethereum_spark.operators.frequency import kmv_set_ops

        rows = [("A", i) for i in range(0, 300)] + [
            ("B", i) for i in range(150, 450)
        ]
        df = spark.createDataFrame(rows, "g string, key long")
        [r] = kmv_set_ops(df, "g", "key", "A", "B", k=32).collect()

        def h(x):
            return int(hashlib.md5(str(x).encode()).hexdigest()[:15], 16)

        sk_a = sorted(h(i) for i in range(0, 300))[:32]
        sk_b = sorted(h(i) for i in range(150, 450))[:32]
        uni = sorted(set(sk_a) | set(sk_b))
        theta = uni[31]
        common = sum(
            1 for v in set(sk_a) & set(sk_b) if v < theta
        )
        assert r.theta == theta and r.n_common == common
        assert r.est_union == (31 * 2**60) // theta
        assert r.est_inter == (common * 2**60) // theta
        assert r.est_jaccard_e6 == (2 * common * 1000000 + 31) // 62
        assert (r.exact_a, r.exact_b) == (300, 300)
        assert (r.exact_inter, r.exact_union) == (150, 450)
        assert r.exact_jaccard_e6 == (2 * 150 * 1000000 + 450) // 900

    def test_small_groups_fall_back_to_exact(self, spark):
        from presto_ethereum_spark.operators.frequency import kmv_set_ops

        rows = [("A", i) for i in range(5)] + [("B", i) for i in range(3, 8)]
        df = spark.createDataFrame(rows, "g string, key long")
        [r] = kmv_set_ops(df, "g", "key", "A", "B", k=64).collect()
        assert r.theta is None
        assert r.est_union == r.exact_union == 8
        assert r.est_inter == r.exact_inter == 2
        assert r.est_jaccard_e6 == r.exact_jaccard_e6

    def test_estimates_within_sketch_error(self, spark):
        from presto_ethereum_spark.operators.frequency import kmv_set_ops

        rows = [("A", i) for i in range(0, 6000)] + [
            ("B", i) for i in range(2000, 8000)
        ]
        df = spark.createDataFrame(rows, "g string, key long")
        [r] = kmv_set_ops(df, "g", "key", "A", "B", k=256).collect()
        # union RSE ~ 1/sqrt(k-2) ~ 6.3%; allow 4 sigma
        assert abs(r.est_union - 8000) < 8000 * 0.25
        assert abs(r.est_inter - 4000) < 8000 * 0.25


class TestLexicalDiversity:
    def test_hand_computed(self, spark):
        from presto_ethereum_spark.operators.text import lexical_diversity

        df = spark.createDataFrame(
            [(0, "a b a c"), (1, ""), (2, "x x x")],
            "doc_id long, text string",
        )
        got = {r.doc_id: r for r in lexical_diversity(df).collect()}
        # doc 0: 4 tokens, 3 types (a,b,c), 2 hapax (b,c)
        assert (got[0].n_tokens, got[0].n_types, got[0].n_hapax) == (4, 3, 2)
        assert got[0].ttr_e6 == (2 * 3 * 1000000 + 4) // 8
        assert got[0].hapax_e6 == (2 * 2 * 1000000 + 3) // 6
        # empty doc: zero counts, NULL ratios
        assert (got[1].n_tokens, got[1].ttr_e6, got[1].hapax_e6) == (0, None, None)
        # doc 2: no hapax
        assert (got[2].n_types, got[2].n_hapax, got[2].hapax_e6) == (1, 0, 0)


class TestShingleDfProfile:
    def test_hand_computed_histogram_and_pair_work(self, spark):
        from presto_ethereum_spark.operators.dedup import shingle_df_profile

        df = spark.createDataFrame(
            [
                (0, "a b c d"),      # shingles: "a b c", "b c d"
                (1, "a b c d"),      # same two
                (2, "a b c x"),      # "a b c", "b c x"
            ],
            "doc_id long, text string",
        )
        rows = {r.df: r for r in shingle_df_profile(df).collect()}
        # df=1: "b c x" only; df=2: "b c d"; df=3: "a b c"
        assert rows[1].n_shingles == 1 and rows[1].pair_work == 0
        assert rows[2].n_shingles == 1 and rows[2].pair_work == 1
        assert rows[3].n_shingles == 1 and rows[3].pair_work == 3
        tot = sum(r.n_postings for r in rows.values())
        assert tot == 1 + 2 + 3
        for r in rows.values():
            assert r.postings_share_e6 == (
                2 * r.n_postings * 1000000 + tot
            ) // (2 * tot)

    def test_pair_work_equals_uncapped_join_candidates(self, spark):
        from presto_ethereum_spark.operators.dedup import (
            _shingle_postings,
            shingle_df_profile,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).limit(80)
        prof = shingle_df_profile(docs, blocking_cols=["lang"])
        total_work = sum(r.pair_work for r in prof.collect())
        ex = _shingle_postings(docs, "text", "doc_id", 3, ["lang"])
        a, b = ex.alias("a"), ex.alias("b")
        n_cand = a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.id") < F.col("b.id")),
        ).count()
        assert total_work == n_cand


class TestCentroidQuality:
    def _referee(self, spark, n_cells=4):
        import numpy as np

        e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        rows = sorted(e.collect(), key=lambda r: r.vec_id)
        cents = [(r.vec_id, [float(x) for x in r.embedding]) for r in rows[:n_cells]]
        data = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
        best = {}
        for vid, v in data.items():
            sims = sorted(
                (
                    (
                        -float(
                            np.dot(v, np.array(cv))
                            / (np.linalg.norm(v) * np.linalg.norm(np.array(cv)))
                        ),
                        cid,
                    )
                    for cid, cv in cents
                ),
            )
            best[vid] = (sims[0][1], -sims[0][0], -sims[1][0])
        return e, cents, best

    def test_silhouette_matches_numpy(self, spark):
        from presto_ethereum_spark.operators.similarity import silhouette_by_cell

        e, cents, best = self._referee(spark)
        got = {r.cell: r for r in silhouette_by_cell(e, cents).collect()}
        import collections

        agg = collections.defaultdict(list)
        for cell, a, b in best.values():
            # float64 fold vs Spark in-order fold can differ in the last
            # ulp; sil_e6 rounds to integer micro-units so they agree
            agg[cell].append(round((a - b) / (1.0 - b) * 1e6))
        for cell, sils in agg.items():
            r = got[cell]
            assert r.n_members == len(sils)
            assert r.sum_sil_e6 == sum(sils)
            assert r.min_sil_e6 == min(sils) and r.max_sil_e6 == max(sils)
            assert r.n_negative == sum(1 for s in sils if s < 0)

    def test_outliers_are_lowest_best_sims(self, spark):
        from presto_ethereum_spark.operators.similarity import centroid_outliers

        e, cents, best = self._referee(spark)
        got = [(r.rank, r.vec_id, r.cell) for r in centroid_outliers(e, cents, k=5).collect()]
        want = sorted(((a, vid) for vid, (cell, a, b) in best.items()))[:5]
        assert [(v, best[v][0]) for _, v in want] == [(v, c) for _, v, c in sorted(got)]

    def test_seed_vectors_have_unit_own_sim(self, spark):
        from presto_ethereum_spark.operators.similarity import _centroid_best_two

        e, cents, _ = self._referee(spark)
        rows = {r.id: r for r in _centroid_best_two(e, cents).collect()}
        for cid, _v in cents:
            assert rows[cid].cell == cid
            assert abs(rows[cid].sim_own - 1.0) < 1e-9


class TestMisraGriesHeavy:
    """Output determinism + the per-partition guarantee: verified heavy
    hitters must equal the exact closed form even when k is far below the
    distinct count (reduce firing constantly) and whatever the
    partitioning."""

    @pytest.fixture(scope="class")
    def skewed_stream(self, spark):
        # 2 heavy values (30% + 20%), long tail of 500 singletons
        rows = (["hot"] * 300 + ["warm"] * 200) + [f"tail{i}" for i in range(500)]
        return spark.createDataFrame([(v,) for v in rows], "v string")

    def test_matches_exact_closed_form(self, spark, skewed_stream):
        from presto_ethereum_spark.operators.frequency import misra_gries_heavy

        k = 8  # threshold N/9 ~ 111: only hot (300) and warm (200) qualify
        got = {
            r.value: (r.n, r.n_total)
            for r in misra_gries_heavy(skewed_stream, "v", k=k).collect()
        }
        assert got == {"hot": (300, 1000), "warm": (200, 1000)}

    def test_partitioning_invariance(self, spark, skewed_stream):
        from presto_ethereum_spark.operators.frequency import misra_gries_heavy

        outs = []
        for parts in (1, 7, 32):
            df = skewed_stream.repartition(parts)
            outs.append(
                sorted(map(tuple, misra_gries_heavy(df, "v", k=8).collect()))
            )
        assert outs[0] == outs[1] == outs[2]

    def test_no_heavy_hitters_is_empty_not_error(self, spark):
        from presto_ethereum_spark.operators.frequency import misra_gries_heavy

        flat = spark.createDataFrame([(f"u{i}",) for i in range(100)], "v string")
        assert misra_gries_heavy(flat, "v", k=4).count() == 0


class TestClusterSafeSplit:
    def test_no_pair_straddles_splits_and_split_is_total(self, spark):
        from presto_ethereum_spark.operators.dedup import (
            dup_clusters,
            jaccard_pairs,
        )
        from presto_ethereum_spark.operators.sampling import cluster_safe_split

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        pairs = jaccard_pairs(
            docs, threshold=0.2, blocking_cols=["lang"], max_df=8
        )
        clusters = dup_clusters(pairs.select("id_a", "id_b"))
        out = cluster_safe_split(docs, clusters, salt="v1")
        # total: every document assigned exactly once
        assert out.count() == docs.count()
        assert out.where(F.col("split").isNull()).count() == 0
        split_of = {r.doc_id: r.split for r in out.collect()}
        straddling = [
            (r.id_a, r.id_b)
            for r in pairs.collect()
            if split_of[r.id_a] != split_of[r.id_b]
        ]
        assert straddling == []

    def test_singletons_key_by_own_id(self, spark):
        from presto_ethereum_spark.operators.sampling import (
            cluster_safe_split,
            split_assign,
        )

        docs = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
        empty = spark.createDataFrame(
            [], "doc_id long, cluster_id long, cluster_size long"
        )
        out = cluster_safe_split(docs, empty, salt="v1")
        ref = split_assign(docs, "doc_id", salt="v1")
        assert sorted((r.doc_id, r.split) for r in out.collect()) == sorted(
            (r.doc_id, r.split) for r in ref.collect()
        )


class TestJaccardThresholdCurve:
    def test_cumulative_matches_pair_join(self, spark):
        from presto_ethereum_spark.operators.dedup import (
            jaccard_pairs,
            jaccard_threshold_curve,
        )

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        curve = {
            r.bucket: r
            for r in jaccard_threshold_curve(
                docs, blocking_cols=["lang"], max_df=8
            ).collect()
        }
        assert set(curve) == set(range(11))
        # n_at_or_above is a non-increasing tail ending at bucket 10's count
        tail = [curve[b].n_at_or_above for b in range(11)]
        assert tail == sorted(tail, reverse=True)
        assert curve[10].n_at_or_above == curve[10].n_pairs
        # bucket-2 tail == pairs the dedup join emits at threshold 0.2
        n_02 = jaccard_pairs(
            docs, threshold=0.2, blocking_cols=["lang"], max_df=8
        ).count()
        assert curve[2].n_at_or_above == n_02


class TestIvfProbeCurve:
    def test_monotone_and_exhaustive_at_full_probe(self, spark):
        from presto_ethereum_spark.operators.similarity import (
            ivf_probe_curve,
            seed_centroids,
        )

        e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        cents = seed_centroids(e, n_cells=4)
        out = {
            r.nprobe: r
            for r in ivf_probe_curve(
                e, e.where(F.col("vec_id") < 3), cents, k=10
            ).collect()
        }
        assert set(out) == {1, 2, 3, 4}
        # recall is monotone non-decreasing in nprobe
        rec = [out[p].recall_at_k for p in range(1, 5)]
        assert rec == sorted(rec)
        # probing every cell IS brute force: recall must be exactly 1
        assert out[4].n_hits == out[4].n_truth
        assert out[4].recall_at_k == 1.0
        assert out[4].n_truth == 3 * 10

    def test_matches_single_point_serve(self, spark):
        """The curve's nprobe=2 row equals the ivf_topk serve path's
        measured hit count — one pass vs per-level serve agree."""
        from presto_ethereum_spark.operators.similarity import (
            brute_force_topk,
            ivf_probe_curve,
            ivf_topk,
            seed_centroids,
        )

        e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        cents = seed_centroids(e, n_cells=4)
        q = e.where(F.col("vec_id") < 3)
        truth = brute_force_topk(e, q, k=10).select("query_id", "neighbor_id")
        served = (
            ivf_topk(e, q, centroids=cents, nprobe=2, k=10)
            .select("query_id", "neighbor_id")
            .join(truth, ["query_id", "neighbor_id"], "left_semi")
            .count()
        )
        curve = ivf_probe_curve(e, q, cents, k=10)
        assert curve.where(F.col("nprobe") == 2).collect()[0].n_hits == served


class TestHistogramQuantiles:
    def test_exact_rank_on_known_sequence(self, spark):
        from presto_ethereum_spark.operators.frequency import (
            histogram_quantiles,
        )

        df = spark.createDataFrame([(i,) for i in range(1, 101)], "v long")
        out = {r.qpct: r for r in histogram_quantiles(df, "v").collect()}
        # target rank = ceil(q*100/100) = q -> exact value is q itself
        for q in (25, 50, 75, 90, 99):
            assert out[q].exact_cents == q
            # estimate honors the histogram's half-width error bound
            assert abs(out[q].err_cents) <= (out[q].hi_cents - out[q].lo_cents)
            assert out[q].lo_cents <= out[q].exact_cents <= out[q].hi_cents

    def test_degenerate_single_value(self, spark):
        from presto_ethereum_spark.operators.frequency import (
            histogram_quantiles,
        )

        df = spark.createDataFrame([(7,)] * 9, "v long")
        out = histogram_quantiles(df, "v").collect()
        assert len(out) == 5
        for r in out:
            assert r.bucket == 0
            assert r.exact_cents == 7
            assert r.lo_cents <= 7 <= r.hi_cents

    def test_negative_values(self, spark):
        from presto_ethereum_spark.operators.frequency import (
            histogram_quantiles,
        )

        df = spark.createDataFrame([(i,) for i in range(-50, 51)], "v long")
        out = {r.qpct: r for r in histogram_quantiles(df, "v").collect()}
        # n=101, rank(50) = ceil(50*101/100) = 51 -> value 0
        assert out[50].exact_cents == 0


class TestBytesProfile:
    def test_constant_and_empty_payloads(self, spark):
        from presto_ethereum_spark.operators.multimodal import (
            bytes_profile,
            media_from_documents,
        )

        docs = spark.createDataFrame(
            [
                Row(doc_id=0, text="3333"),  # constant nibble: simpson = 1
                Row(doc_id=1, text=""),  # empty: NULL simpson, NULL flag
                Row(doc_id=2, text="the quick brown fox jumps over it"),
            ]
        )
        out = {r.media_id: r for r in bytes_profile(media_from_documents(docs)).collect()}
        assert out[0].simpson_e6 == 1000000
        assert out[0].distinct_nibbles == 1
        assert out[0].suspect is True
        assert out[1].simpson_e6 is None
        assert out[1].suspect is None
        assert out[1].n_bytes == 0
        assert out[2].simpson_e6 < 250000
        assert out[2].suspect is False
        assert out[2].n_bytes == 33

    def test_simpson_matches_python_reference(self, spark):
        from collections import Counter

        from presto_ethereum_spark.operators.multimodal import (
            bytes_profile,
            media_from_documents,
        )

        text = "mixed Content 123 éè"  # multi-byte utf-8 too
        docs = spark.createDataFrame([Row(doc_id=0, text=text)])
        r = bytes_profile(media_from_documents(docs)).collect()[0]
        hx = text.encode("utf-8").hex().upper()
        c = Counter(hx)
        n = len(hx)
        sumsq = sum(v * v for v in c.values())
        expect = (2 * sumsq * 1000000 + n * n) // (2 * n * n)
        assert r.simpson_e6 == expect
        assert r.distinct_nibbles == len(c)
        assert r.n_bytes == len(text.encode("utf-8"))


class TestLshBandCurve:
    def test_monotone_and_matches_serve_path(self, spark):
        from presto_ethereum_spark.operators.similarity import (
            brute_force_topk,
            lsh_band_curve,
            lsh_topk,
        )

        e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = e.where(F.col("vec_id") < 3)
        out = {
            r.n_bands: r
            for r in lsh_band_curve(e, q, dim=64, bands=4, bits=24, k=10).collect()
        }
        assert set(out) == {1, 2, 3, 4}
        rec = [out[b].recall_at_k for b in range(1, 5)]
        # more bands union more candidates: recall monotone non-decreasing
        assert rec == sorted(rec)
        assert out[1].n_truth == 3 * 10
        # the full-budget row equals the lsh_topk serve path's hit count
        truth = brute_force_topk(e, q, k=10).select("query_id", "neighbor_id")
        served = (
            lsh_topk(e, dim=64, k=10, bands=4, bits=24)
            .where(F.col("query_id") < 3)
            .select("query_id", "neighbor_id")
            .join(truth, ["query_id", "neighbor_id"], "left_semi")
            .count()
        )
        assert out[4].n_hits == served


class TestQualitySurvivalCurve:
    def test_tail_identities_and_filter_agreement(self, spark):
        from presto_ethereum_spark.operators import text as T

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        curve = {r.bucket: r for r in T.quality_survival_curve(docs).collect()}
        assert set(curve) == set(range(11))
        # doc tail is non-increasing and starts at the corpus total
        tail = [curve[b].docs_at_or_above for b in range(11)]
        assert tail == sorted(tail, reverse=True)
        assert curve[0].docs_at_or_above == docs.count()
        # per-bucket counts sum to the totals
        assert sum(curve[b].n_docs for b in range(11)) == docs.count()
        # the bucket-4 tail equals what the actual filter at 0.4 keeps
        kept = docs.where(
            T.quality_score(F.col("text")) >= 0.4
        ).count()
        # tail >= filter count (floor(q*10) >= 4 iff q >= 0.4 exactly);
        # equality because floor bucketing and the cutoff share the edge
        assert curve[4].docs_at_or_above == kept
        # token identity: bucket sums equal the per-doc token total
        total_tok = docs.select(
            F.sum(T.token_count_regex(F.col("text")))
        ).collect()[0][0]
        assert curve[0].tokens_at_or_above == total_tok


class TestReviewedEdgeCases:
    """Edge cases surfaced by the r8 diff review: NULL inputs that both
    engines would mishandle IDENTICALLY (least() skips NULLs in Spark and
    DuckDB alike), so the oracle gate alone cannot catch them."""

    def test_histogram_quantiles_ignores_nulls(self, spark):
        from presto_ethereum_spark.operators.frequency import (
            histogram_quantiles,
        )

        vals = [(None,)] * 50 + [(i,) for i in range(1, 51)]
        df = spark.createDataFrame(vals, "v long")
        out = {r.qpct: r for r in histogram_quantiles(df, "v").collect()}
        # all 5 quantile rows present (the NULL bucket must not absorb a
        # target rank and vanish at the equality join)
        assert set(out) == {25, 50, 75, 90, 99}
        # n=50 non-null values 1..50: rank(q) = ceil(q*50/100)
        assert out[50].exact_cents == 25
        assert out[99].exact_cents == 50

    def test_quality_curve_null_text_is_bucket_zero(self, spark):
        from presto_ethereum_spark.operators import text as T

        docs = spark.createDataFrame(
            [(0, None), (1, "the quick brown fox jumps over the lazy dog")],
            "doc_id long, text string",
        )
        curve = {r.bucket: r for r in T.quality_survival_curve(docs).collect()}
        # NULL text (failed extraction) files under the LOWEST decile,
        # with zero token mass — never the top one
        assert curve[0].n_docs == 1
        assert curve[0].n_tokens == 0
        assert curve[10].n_docs == 0
        assert curve[0].docs_at_or_above == 2

    def test_band_curve_external_query_excluded_both_sides(self, spark):
        from presto_ethereum_spark.operators.similarity import lsh_band_curve

        e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        # probe set = 2 in-corpus ids + 1 id that does not exist
        q = e.where(F.col("vec_id") < 2).unionByName(
            e.limit(1).select(
                (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding",
                *[c for c in e.columns if c not in ("vec_id", "embedding")]
            ).select(*e.columns)
        )
        out = sorted(
            tuple(r)
            for r in lsh_band_curve(
                e, q, dim=64, bands=4, bits=24, k=10
            ).collect()
        )
        # the external id drops from BOTH numerator and denominator: the
        # curve over (2 in-corpus + 1 external) is IDENTICAL to the curve
        # over just the 2 in-corpus queries (before the fix, truth kept
        # the external query's 10 rows and recall read ~2/3 of its real
        # value at every budget)
        ref = sorted(
            tuple(r)
            for r in lsh_band_curve(
                e, e.where(F.col("vec_id") < 2), dim=64, bands=4, bits=24, k=10
            ).collect()
        )
        assert out == ref
        assert out[0][2] == 2 * 10  # n_truth


class TestCodebookDrift:
    def test_conservation_and_identity(self, spark):
        from presto_ethereum_spark.operators.similarity import (
            codebook_drift,
            ivf_assign,
            kmeans_centroids,
            seed_centroids,
        )

        e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        seeds = seed_centroids(e, n_cells=4)
        refined = kmeans_centroids(e, n_cells=4, n_iters=1, seeds=seeds)
        out = codebook_drift(e, seeds, refined).collect()
        # conservation: per cell n_stayed + n_moved == n_seed, and the
        # seed-cell populations sum to the corpus
        for r in out:
            assert r.n_stayed + r.n_moved == r.n_seed
            assert 0 <= r.churn_e6 <= 1000000
        assert sum(r.n_seed for r in out) == e.count()
        # seed populations match ivf_assign's own census
        census = {
            r.cell: r.n
            for r in ivf_assign(e, seeds)
            .groupBy("cell")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert {r.cell: r.n_seed for r in out} == census
        # identity: drift of a codebook against itself is zero everywhere
        none = codebook_drift(e, seeds, seeds).collect()
        assert all(r.n_moved == 0 and r.churn_e6 == 0 for r in none)


class TestMinhashBandCurve:
    def test_monotone_and_full_budget_matches_recall_report(self, spark):
        from presto_ethereum_spark.plans import battery

        sf = "/root/testdata/sf0.001"
        out = {
            r.n_bands: r
            for r in battery.doc_minhash_band_curve(spark, sf).collect()
        }
        assert set(out) == {1, 2, 3, 4}
        caught = [out[b].n_caught for b in range(1, 5)]
        # more bands union more buckets: caught is monotone non-decreasing
        assert caught == sorted(caught)
        # the full-budget row equals the recall report's total catch
        # (same truth contract, same 4x4 banding)
        rep = battery.doc_minhash_recall(spark, sf).collect()
        assert out[4].n_caught == sum(r.n_caught for r in rep)
        assert out[4].n_truth == sum(r.n_truth for r in rep)


class TestKmeansConvergence:
    """Lloyd convergence curve.  NOTE: with cosine assignment + MEAN
    updates (the kmeans_centroids contract), inertia is near-monotone but
    not guaranteed monotone on unnormalized vectors — spherical k-means
    would normalize the mean.  The exact fixed point is still testable:
    clusters whose members all EQUAL their seed leave centroids, cells,
    and inertia bit-identical across every iteration."""

    def test_fixed_point_two_pure_clusters(self, spark):
        from presto_ethereum_spark.operators.similarity import (
            kmeans_convergence,
        )

        rows = [
            (0, [1.0, 0.0]), (1, [0.0, 1.0]),  # the two seeds
            (2, [1.0, 0.0]), (3, [1.0, 0.0]),
            (4, [0.0, 1.0]), (5, [0.0, 1.0]),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = {
            r.iteration: r
            for r in kmeans_convergence(df, n_cells=2, n_iters=2).collect()
        }
        assert set(out) == {0, 1, 2}
        assert out[0].n_moved is None
        # every member equals its centroid: nothing moves, inertia is the
        # same exact integer at every iteration (0: all cosines are 1.0)
        assert out[1].n_moved == 0 and out[2].n_moved == 0
        assert out[0].inertia_q == out[1].inertia_q == out[2].inertia_q == 0

    def test_reassignment_counts_and_rows(self, spark):
        from presto_ethereum_spark.operators.similarity import (
            kmeans_convergence,
        )

        # seeds 0,1 sit together; vectors 4,5 pull centroid 1 away, so at
        # least one later iteration reassigns or the curve stays flat —
        # either way the report stays 3 rows with sane counters
        rows = [
            (0, [1.0, 0.1]), (1, [0.9, 0.2]),
            (2, [1.0, 0.0]), (3, [0.95, 0.1]),
            (4, [0.0, 1.0]), (5, [0.1, 0.9]),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = kmeans_convergence(df, n_cells=2, n_iters=2).collect()
        assert len(out) == 3
        by_it = {r.iteration: r for r in out}
        assert by_it[0].n_moved is None
        assert all(
            0 <= by_it[i].n_moved <= 6 and by_it[i].inertia_q >= 0
            for i in (1, 2)
        )


class TestTripletMining:
    def test_hand_picked_triplets(self, spark):
        import math

        from presto_ethereum_spark.operators.similarity import triplet_mining

        def cos(a, b):
            d = sum(x * y for x, y in zip(a, b))
            return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

        vecs = {
            0: ([1.0, 0.0], 7),
            1: ([0.9, 0.1], 7),   # pos for 0
            2: ([0.8, 0.3], 9),   # hard neg for 0
            3: ([0.0, 1.0], 9),
        }
        df = spark.createDataFrame(
            [(i, v, l) for i, (v, l) in vecs.items()],
            "vec_id long, embedding array<float>, label int",
        )
        out = {
            r.query_id: r
            for r in triplet_mining(df, df.where("vec_id = 0")).collect()
        }
        r = out[0]
        assert (r.pos_id, r.neg_id) == (1, 2)
        assert r.pos_sim == round(cos(vecs[0][0], vecs[1][0]), 6)
        assert r.neg_sim == round(cos(vecs[0][0], vecs[2][0]), 6)
        assert r.margin == round(
            cos(vecs[0][0], vecs[1][0]) - cos(vecs[0][0], vecs[2][0]), 6
        )

    def test_no_same_label_peer_yields_null_pos(self, spark):
        from presto_ethereum_spark.operators.similarity import triplet_mining

        df = spark.createDataFrame(
            [(0, [1.0, 0.0], 1), (1, [0.5, 0.5], 2), (2, [0.0, 1.0], 3)],
            "vec_id long, embedding array<float>, label int",
        )
        (r,) = triplet_mining(df, df.where("vec_id = 0")).collect()
        assert r.pos_id is None and r.pos_sim is None and r.margin is None
        assert r.neg_id == 1  # nearest of the two other-label vectors


class TestTfidfTopk:
    def test_hand_computed_scores(self, spark):
        import math

        from presto_ethereum_spark.operators.text import tfidf_topk

        df = spark.createDataFrame(
            [
                (0, "apple apple banana"),
                (1, "apple cherry"),
                (2, "durian durian durian"),
            ],
            "doc_id long, text string",
        )
        out = tfidf_topk(df, k=2).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r.doc_id, []).append(r)
        # doc 0: apple tf=2 df=2 -> 2*ln(4/3) ~= 0.575; banana tf=1 df=1
        # -> ln(2) ~= 0.693 — the rarer singleton OUTSCORES the repeated
        # common term, which is exactly the idf weighting working
        idf = lambda dfd: math.log(4.0 / (dfd + 1.0))
        top0 = sorted(by_doc[0], key=lambda r: r.rank)
        assert [(r.term, r.tf, r.df_docs) for r in top0] == [
            ("banana", 1, 1), ("apple", 2, 2),
        ]
        assert top0[0].tfidf == round(1 * idf(1), 6)
        assert top0[1].tfidf == round(2 * idf(2), 6)
        # doc 2 has one distinct term -> a single row despite k=2
        assert [(r.term, r.tf) for r in by_doc[2]] == [("durian", 3)]
        assert all(r.rank <= 2 for r in out)


class TestMinhashCalibration:
    def test_duplicate_pair_calibrates_to_one(self, spark):
        from presto_ethereum_spark.operators.dedup import minhash_calibration

        # two identical docs: every minhash agrees (n_agree = 16), exact
        # J = 1.0 -> est_e6 = mean_exact_e6 = 1_000_000; the unrelated doc
        # never becomes a candidate
        df = spark.createDataFrame(
            [
                (0, "alpha beta gamma delta epsilon zeta"),
                (1, "alpha beta gamma delta epsilon zeta"),
                (2, "one two three four five six seven"),
            ],
            "doc_id long, text string",
        )
        out = minhash_calibration(df).collect()
        assert len(out) == 1
        (r,) = out
        assert (r.n_agree, r.n_pairs) == (16, 1)
        assert r.est_e6 == 1_000_000 and r.mean_exact_e6 == 1_000_000

    def test_capped_zero_overlap_pair_reports_zero_exact(self, spark):
        from presto_ethereum_spark.operators.dedup import minhash_calibration

        # identical docs but a df cap of 1 evicts every shared shingle
        # from the exact index: the pair is still an LSH candidate with
        # full agreement, while the capped exact J reports 0 — the
        # documented lower-bound trade surfacing in the calibration table
        df = spark.createDataFrame(
            [
                (0, "alpha beta gamma delta epsilon zeta"),
                (1, "alpha beta gamma delta epsilon zeta"),
            ],
            "doc_id long, text string",
        )
        (r,) = minhash_calibration(df, max_df=1).collect()
        assert (r.n_agree, r.n_pairs, r.mean_exact_e6) == (16, 1, 0)


class TestPowerIteration:
    def test_matches_numpy_replica(self, spark):
        import numpy as np

        from presto_ethereum_spark.operators.similarity import (
            POWER_QUANTUM,
            power_iteration,
        )

        rng = [
            [1.0, 0.5, 0.0], [0.9, 0.4, 0.1],
            [0.8, 0.6, 0.0], [0.1, 0.0, 1.0],
        ]
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(rng)],
            "vec_id long, embedding array<float>",
        )
        out = {
            (r.iteration, r.dim): r.contrib_q
            for r in power_iteration(df, n_iters=2).collect()
        }
        # pure-Python replica (float32 storage -> float64 math, like Spark)
        X = np.array(rng, dtype=np.float32).astype(np.float64)
        v = np.array([1.0, 0.0, 0.0])
        for it in (1, 2):
            q = {}
            for d in range(3):
                q[d] = sum(
                    int(np.floor(float((x * v).sum() if it > 1 else x[0])
                                 * float(x[d]) * POWER_QUANTUM))
                    for x in X
                )
            for d in range(3):
                assert out[(it, d)] == q[d], (it, d)
            w = np.array([q[d] / POWER_QUANTUM for d in range(3)])
            v = w / np.sqrt((w * w).sum())

    def test_converges_toward_dominant_direction(self, spark):
        from presto_ethereum_spark.operators.similarity import power_iteration

        # corpus dominated by the second axis: after one round the
        # iterate must put its largest mass on dim 1
        df = spark.createDataFrame(
            [(0, [0.1, 1.0]), (1, [0.1, 0.9]), (2, [0.2, 1.1]), (3, [0.1, 1.0])],
            "vec_id long, embedding array<float>",
        )
        out = {
            (r.iteration, r.dim): r.contrib_q
            for r in power_iteration(df, n_iters=2).collect()
        }
        assert abs(out[(2, 1)]) > abs(out[(2, 0)])


class TestSaltedJoin:
    def test_result_identical_to_plain_join(self, spark):
        from presto_ethereum_spark.operators.joins import salted_join

        left = spark.createDataFrame(
            [(i, i % 3) for i in range(60)], "row_id long, k long"
        )
        right = spark.createDataFrame(
            [(0, "a"), (1, "b"), (1, "bb"), (2, "c")], "k long, v string"
        )
        for how in ("inner", "left"):
            got = sorted(
                map(tuple, salted_join(
                    left, right, "k", F.col("row_id"), n_salts=4, how=how
                ).collect())
            )
            want = sorted(map(tuple, left.join(right, "k", how).collect()))
            assert got == want, how

    def test_build_side_replicates_per_salt(self, spark):
        from presto_ethereum_spark.operators.joins import salted_join

        # one hot key: every (key, salt) bucket must hold a replica, so
        # the join output is complete whatever salt each probe row drew
        left = spark.createDataFrame(
            [(i, 7) for i in range(100)], "row_id long, k long"
        )
        right = spark.createDataFrame([(7, "hot")], "k long, v string")
        out = salted_join(left, right, "k", F.col("row_id"), n_salts=8)
        assert out.count() == 100
        assert "_salt" not in out.columns

    def test_rejects_full_and_right(self, spark):
        import pytest

        from presto_ethereum_spark.operators.joins import salted_join

        df = spark.createDataFrame([(1, 1)], "row_id long, k long")
        with pytest.raises(ValueError):
            salted_join(df, df, "k", F.col("row_id"), how="full")


class TestPrefixDimRecall:
    def test_full_width_row_is_perfect_and_prefix_monotone_ish(self, spark):
        from presto_ethereum_spark.operators.similarity import prefix_dim_recall

        import random

        rng = random.Random(7)
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(40)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = {
            r.prefix_dim: r
            for r in prefix_dim_recall(
                df, df.where("vec_id < 3"), prefix_dims=(4, 8), k=5
            ).collect()
        }
        assert set(out) == {4, 8, -1}
        # the -1 row is the full width: hits == truth, recall exactly 1.0
        assert out[-1].n_hits == out[-1].n_truth == 15
        assert out[-1].recall == 1.0
        assert all(0 <= out[d].n_hits <= 15 for d in (4, 8))

    def test_prefix_identical_when_tail_is_zero(self, spark):
        from presto_ethereum_spark.operators.similarity import prefix_dim_recall

        # vectors whose mass lives entirely in the first 4 dims: the
        # 4-dim prefix ordering equals the full ordering -> recall 1.0
        import random

        rng = random.Random(11)
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(4)] + [0.0] * 12)
            for i in range(30)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = {
            r.prefix_dim: r
            for r in prefix_dim_recall(
                df, df.where("vec_id < 3"), prefix_dims=(4,), k=5
            ).collect()
        }
        assert out[4].recall == 1.0
