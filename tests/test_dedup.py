"""Dedup / similarity operators: MinHash-LSH + SimHash validated against
exact n-gram Jaccard on a corpus with planted near-duplicates."""

import numpy as np
import pandas as pd
import pytest

from maskmypy_spark.operators import dedup


@pytest.fixture(scope="module")
def docs(spark):
    rs = np.random.RandomState(5)
    vocab = [f"w{i}" for i in range(60)]
    rows = []
    for i in range(120):
        n = rs.randint(30, 80)
        rows.append((i, " ".join(rs.choice(vocab, n))))
    # planted near-duplicates: copy with small perturbations
    base = dict(rows)
    for j, src in enumerate([3, 17, 42, 99]):
        words = base[src].split()
        k = rs.randint(0, len(words))
        words[k] = "zz"
        rows.append((1000 + j, " ".join(words)))
    # one exact duplicate
    rows.append((2000, base[7]))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"])).cache()


def test_dedup_exact_finds_planted_duplicate(docs):
    groups = dedup.dedup_exact(docs).where("n_dups > 1").collect()
    assert len(groups) == 1
    assert groups[0]["keep_id"] == 7
    assert groups[0]["n_dups"] == 2


def test_exact_jaccard_finds_planted_neardups(docs):
    pairs = {(r["d1"], r["d2"]) for r in dedup.ngram_jaccard_pairs(docs, 0.7).collect()}
    for j, src in enumerate([3, 17, 42, 99]):
        assert (src, 1000 + j) in pairs
    assert (7, 2000) in pairs  # exact dup has jaccard 1.0


def test_minhash_lsh_matches_exact_on_high_threshold(docs):
    """LSH candidates + exact verification: at tau=0.7 with 32 hashes / 8
    bands the band curve gives ~1.0 recall for j>=0.85 pairs; all planted
    pairs are >=0.9, so LSH must find exactly the exact-join result."""
    exact = {
        (r["d1"], r["d2"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(docs, 0.7).collect()
    }
    lsh = {
        (r["d1"], r["d2"], r["jaccard"])
        for r in dedup.minhash_lsh_pairs(docs, 0.7).collect()
    }
    assert lsh == exact


def test_minhash_lsh_single_banded_shuffle(docs):
    """VERDICT r04 next #6: the LSH candidate generation must be ONE
    exploded band self-join (like hamming_pairs' pigeonhole join), not one
    join per band — b shuffle stages collapse to a single (band, key)
    shuffle."""
    import io
    from contextlib import redirect_stdout

    # the candidate stage is checkpointed inside minhash_lsh_pairs (its
    # bounded output feeds two consumers), which cuts it out of the final
    # explain — gate the stage's own plan via the extracted helpers, over
    # the same per-doc index minhash_lsh_pairs and curate_near build
    index = dedup._lsh_index(
        docs.select("doc_id", dedup.tokens_col("text").alias("_t")),
        "doc_id", 3, 32, 8, "xxhash64",
    )
    df = dedup._band_pairs(index, "doc_id", 8)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="simple")
    plan = buf.getvalue()
    band_joins = [
        ln for ln in plan.splitlines() if "Join" in ln and "_v" in ln
    ]
    assert len(band_joins) == 1, plan


def test_curate_near_elects_cluster_keepers(docs):
    """curate_near (gates -> LSH -> components -> keeper election): with
    the gates held open, every planted near-dup pair collapses to its
    min-id keeper carrying the cluster size; untouched docs survive as
    singletons. Value-level equality vs the independent chained DuckDB
    oracle is covered by the doc_curate_near contract entry."""
    out = {
        r["doc_id"]: r["n_near_dups"]
        for r in dedup.curate_near(
            docs, min_alpha=0.0, max_repetition=1.0, threshold=0.7
        ).collect()
    }
    pair_rows = dedup.minhash_lsh_pairs(docs, 0.7).collect()
    paired = {r["d1"] for r in pair_rows} | {r["d2"] for r in pair_rows}
    for j, src in enumerate([3, 17, 42, 99]):
        assert 1000 + j not in out and out[src] >= 2
    assert 2000 not in out and out[7] >= 2
    # survivor count: singletons + one keeper per connected component
    parent: dict = {}

    def find(a):
        while parent.get(a, a) != a:
            a = parent.get(a, a)
        return a

    for r in pair_rows:
        ra, rb = find(r["d1"]), find(r["d2"])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps = {find(d) for d in paired}
    assert len(out) == docs.count() - len(paired) + len(comps)
    for d in out:
        if d not in paired:
            assert out[d] == 1


def test_curate_near_gate_stage_has_no_shuffle(docs):
    """The gate (+sample) stage of the curate pipelines must stay a pure
    projection+filter — zero Exchange before the dedup machinery."""
    import io
    from contextlib import redirect_stdout

    gated = dedup._quality_gated(
        docs, "doc_id", "text", 0.3, 0.4, 2, 0.8, 1
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        gated.explain(mode="simple")
    plan = buf.getvalue()
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_simhash_hamming_close_for_neardups(docs):
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash64(docs).collect()}

    def ham(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    assert ham(sh[7], sh[2000]) == 0  # exact dup
    planted = [ham(sh[s], sh[1000 + j]) for j, s in enumerate([3, 17, 42, 99])]
    assert max(planted) <= 8
    rs = np.random.RandomState(0)
    ids = [i for i in sh if i < 1000]
    rand = [ham(sh[a], sh[b]) for a, b in zip(rs.choice(ids, 30), rs.choice(ids, 30)) if a != b]
    assert np.mean(rand) > 12  # unrelated docs are far


def test_simhash_md5_mode_semantics(docs):
    """md5-mode sketch: 60-bit range, exact dup => hamming 0, planted
    near-dups close, unrelated docs far (same contract as xxhash64 mode)."""
    sh = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash64(docs, hasher="md5").collect()
    }
    assert all(0 <= v < (1 << 60) for v in sh.values())

    def ham(a, b):
        return bin(a ^ b).count("1")

    assert ham(sh[7], sh[2000]) == 0
    planted = [ham(sh[s], sh[1000 + j]) for j, s in enumerate([3, 17, 42, 99])]
    assert max(planted) <= 8
    rs = np.random.RandomState(0)
    ids = [i for i in sh if i < 1000]
    rand = [ham(sh[a], sh[b]) for a, b in zip(rs.choice(ids, 30), rs.choice(ids, 30)) if a != b]
    assert np.mean(rand) > 12


def test_simhash_pairs_banded_join_is_exact_at_threshold(docs):
    """The banded hamming join has NO false negatives (pigeonhole): it must
    return exactly the pairs a brute-force hamming scan finds."""
    t = 8
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash64(docs).collect()}

    def ham(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    ids = sorted(sh)
    want = {
        (a, b, ham(sh[a], sh[b]))
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if ham(sh[a], sh[b]) <= t
    }
    got = {
        (r["d1"], r["d2"], r["hamming"])
        for r in dedup.simhash_pairs(docs, max_hamming=t, bands=t + 1).collect()
    }
    assert got == want and len(got) >= 5  # exact dup + 4 planted


def test_dedup_clusters_recovers_planted_components(spark):
    """Chain A-B-C + pair D-E + isolated pair resolve to min-id clusters."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (3, 4)], "d1 long, d2 long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dedup.dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_dedup_clusters_path_graph_round_budget(spark):
    """A path of L nodes needs L rounds (L - 1 that move the min label one
    hop, one that confirms): it converges at max_iter = L and raises one
    round short. Round 1 is the fused least(a, min(b)) round, counted like
    every other round."""
    n_nodes = 6
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n_nodes)], "d1 long, d2 long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dedup_clusters(pairs, max_iter=n_nodes).collect()
    }
    assert got == {i: 1 for i in range(1, n_nodes + 1)}
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.dedup_clusters(pairs, max_iter=n_nodes - 1)


def test_dedup_clusters_empty_pairs(spark):
    pairs = spark.createDataFrame([], "d1 long, d2 long")
    assert dedup.dedup_clusters(pairs, max_iter=1).count() == 0


def _cache_entries(spark) -> int:
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm).size()


@pytest.mark.parametrize("max_shingle_df", ["auto", None])
def test_ngram_jaccard_pairs_leaves_no_session_cache(docs, max_shingle_df):
    """The shingle index is released with the result: once the pairs are
    collected the session's CacheManager holds no entry it did not hold
    before (the module's cached fixture is one such entry)."""
    spark = docs.sparkSession
    before = _cache_entries(spark)
    pairs = dedup.ngram_jaccard_pairs(docs, 0.7, max_shingle_df=max_shingle_df)
    assert (7, 2000) in {(r["d1"], r["d2"]) for r in pairs.collect()}
    assert _cache_entries(spark) == before


@pytest.mark.parametrize("hasher", ["xxhash64", "md5"])
def test_curate_near_short_docs_are_singletons(spark, hasher):
    """Docs with fewer tokens than the gram size have no n-gram: their
    dup_ngram_frac is 0.0, they have no MinHash signature, and they come
    out as singletons. Without the NULL-signature guard all of them would
    share one band key per band (xxhash64 and concat_ws skip NULLs)."""
    df = spark.createDataFrame(
        [
            (0, "alpha"),
            (1, "alpha"),
            (2, "alpha beta"),
            (3, "alpha beta"),
            (4, "gamma delta"),
            (5, "one two three four five six seven eight nine ten"),
            (6, "one two three four five six seven eight nine ten"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_near_dups"], r["dup_ngram_frac"])
        for r in dedup.curate_near(df, min_alpha=0.0, hasher=hasher).collect()
    }
    assert out == {
        0: (1, 0.0), 1: (1, 0.0), 2: (1, 0.0), 3: (1, 0.0), 4: (1, 0.0),
        5: (2, 0.0),
    }


def test_curate_near_empty_corpus(spark):
    df = spark.createDataFrame([], "doc_id long, text string")
    assert dedup.curate_near(df).count() == 0


def test_curate_near_without_near_dups_keeps_every_gated_doc(spark):
    """No two docs are near-dups: every doc that passes the gates comes
    out exactly once as a singleton, and gated-out docs stay out."""
    rs = np.random.RandomState(3)
    vocab = sorted({"".join(rs.choice(list("abcdefghij"), 6)) for _ in range(200)})
    rows = [(i, " ".join(rs.choice(vocab, 40, replace=False))) for i in range(40)]
    rows += [(100, "spam spam spam spam spam spam"), (101, "$$$ 123 &&& 456")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [(r["doc_id"], r["n_near_dups"]) for r in dedup.curate_near(df).collect()]
    assert sorted(got) == [(i, 1) for i in range(40)]


def test_fingerprint_winnow_shared_run_guarantee(spark):
    """Winnowing guarantee: two docs sharing a run of >= k + window - 1
    tokens share at least one fingerprint; unrelated docs share none."""
    import pandas as pd

    shared = "alpha beta gamma delta epsilon zeta eta"  # 7 tokens >= 3+4-1=6
    rows = [
        (0, "intro words here " + shared + " tail one"),
        (1, "completely different opening " + shared),
        (2, "no overlap at all with anything else whatsoever in here"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    fp = dedup.fingerprint_winnow(df)
    sets = {}
    for r in fp.collect():
        sets.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert sets[0] & sets[1]
    assert not (sets[0] & sets[2]) and not (sets[1] & sets[2])


def test_embed_quantize_reconstruction(spark):
    """int8 quantization: codes within [-127, 127], reconstruction error
    <= scale/2 + float32 ulp per component, zero vectors -> scale 0."""
    import numpy as np

    rows = [
        (0, [1.0, -0.5, 0.25, 0.0]),
        (1, [0.0, 0.0, 0.0, 0.0]),
        (2, [-2.5, 2.5, 1.25, -1.25]),
        (3, [1e-6, -1e-6, 5e-7, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r for r in dedup.embed_quantize(df).collect()}
    assert got[1]["scale"] == 0.0 and got[1]["q"] == [0, 0, 0, 0]
    for vid, vec in rows:
        r = got[vid]
        assert all(-127 <= c <= 127 for c in r["q"]), vid
        scale = max(abs(v) for v in vec) / 127.0
        for v, c in zip(vec, r["q"]):
            assert abs(v - c * scale) <= scale / 2 + 1e-7, (vid, v, c)


def test_doc_repetition_planted(spark):
    """Gopher repetition signal: hand-computable duplicate-bigram
    fractions, 0.0 for degenerate docs (NULL/empty/single-token)."""
    df = spark.createDataFrame(
        [
            (0, "a b a b a b"),       # bigrams: ab ba ab ba ab -> 2/5 distinct
            (1, "one two three four"),  # all distinct -> 0.0
            (2, "spam spam spam spam spam"),  # 4 bigrams, 1 distinct -> 0.75
            (3, None),
            (4, ""),
            (5, "single"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["dup_ngram_frac"] for r in dedup.doc_repetition(df).collect()}
    assert got == {0: 0.6, 1: 0.0, 2: 0.75, 3: 0.0, 4: 0.0, 5: 0.0}


def test_curate_pipeline_semantics(spark):
    """curate(): repetitious docs and symbol soup drop at the gates, exact
    duplicates elect min-key keepers, NULL/empty text drops, and the whole
    pipeline shows exactly one Exchange (the digest window) in the plan."""
    import io
    from contextlib import redirect_stdout

    df = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy dog"),  # dup of 0
            (2, "spam spam spam spam spam spam"),                # repetitious
            (3, "$$$ 123 &&& 456 ::: 789 %%%"),                  # low alpha
            (4, "a genuinely fine unique document here"),
            (5, None),
            (6, ""),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"] for r in dedup.curate(df).collect()}
    assert got == {0, 4}

    plan_buf = io.StringIO()
    with redirect_stdout(plan_buf):
        dedup.curate(df).explain(mode="formatted")
    plan = plan_buf.getvalue()
    assert plan.count("(1) Exchange") + plan.count(") Exchange") <= 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    # deterministic sampling: same seed same survivors, rate=0 drops all
    a = {r["doc_id"] for r in dedup.curate(df, sample_rate=0.7, seed=5).collect()}
    b = {r["doc_id"] for r in dedup.curate(df, sample_rate=0.7, seed=5).collect()}
    assert a == b
    assert dedup.curate(df, sample_rate=0.0).count() == 0


def test_doc_repetition_random_vs_python(spark):
    """doc_repetition vs an independent Python computation over 40 random
    word soups (skewed vocab so duplicates actually occur), n in {2, 3}."""
    import numpy as np

    rs = np.random.RandomState(11)
    vocab = ["a", "bb", "ccc", "dd", "e"]
    rows = [
        (i, " ".join(rs.choice(vocab, size=rs.randint(1, 30))))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for n in (2, 3):
        got = {
            r["doc_id"]: r["dup_ngram_frac"]
            for r in dedup.doc_repetition(df, n=n).collect()
        }
        for i, text in rows:
            toks = text.split()
            grams = [
                " ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)
            ]
            want = (
                round(1.0 - len(set(grams)) / len(grams), 6) if grams else 0.0
            )
            assert got[i] == want, (n, i, text)


def test_language_id_profiles(spark):
    import pandas as pd

    rows = [
        (0, "the cat sat on the mat and the dog is in the house"),
        (1, "der hund ist nicht in das haus und die katze"),
        (2, "le chat est dans la maison et les chiens pour le parc"),
        (3, "el perro es una mascota con los gatos para la casa del pueblo"),
        (4, "xyzzy plugh qwerty asdf"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = {r["doc_id"]: r["language"] for r in dedup.language_id(df).collect()}
    assert got == {0: "en", 1: "de", 2: "fr", 3: "es", 4: "und"}


def test_language_id_null_and_empty_text(spark):
    """NULL/empty text => ('und', 0.0) on BOTH engines (ADVICE r02: the
    oracle's CASE without ELSE used to yield NULL language for NULL text)."""
    import duckdb

    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, "   ")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["language"], r["score"])
        for r in dedup.language_id(df).collect()
    }
    assert got == {0: ("und", 0.0), 1: ("und", 0.0), 2: ("und", 0.0)}

    from maskmypy_spark.plans import contract

    _q, sql = contract.build()["doc_language"]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(0, NULL), (1, ''), (2, '   ')) t(doc_id, text)"
    )
    want = {r[0]: (r[1], r[2]) for r in con.sql(sql).fetchall()}
    assert want == got


def test_cosine_nn_exact_vs_numpy(spark):
    rs = np.random.RandomState(6)
    vecs = rs.standard_normal((80, 16)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(80), "embedding": [v.tolist() for v in vecs]})
    emb = spark.createDataFrame(pdf)
    got = {r["vec_id"]: r["nn_id"] for r in dedup.cosine_nn(emb).collect()}
    v = vecs.astype(np.float64)
    v = v / np.linalg.norm(v, axis=1, keepdims=True)
    sims = v @ v.T
    np.fill_diagonal(sims, -np.inf)
    for i in range(80):
        assert got[i] == int(sims[i].argmax())


def test_cosine_nn_lsh_recall(spark):
    """Hyperplane LSH recalls CLOSE neighbors (its contract): clustered
    embeddings where each vector's true NN is in its own tight cluster."""
    rs = np.random.RandomState(8)
    centers = rs.standard_normal((20, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    idx = rs.randint(0, 20, 200)
    vecs = (centers[idx] + 0.1 * rs.standard_normal((200, 16))).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(200), "embedding": [v.tolist() for v in vecs]})
    emb = spark.createDataFrame(pdf).cache()
    exact = {r["vec_id"]: r["nn_id"] for r in dedup.cosine_nn(emb).collect()}
    approx = {r["vec_id"]: r["nn_id"] for r in dedup.cosine_nn_lsh(emb, planes=8, tables=6).collect()}
    hits = sum(1 for k in exact if approx.get(k) == exact[k])
    assert hits / len(exact) >= 0.8  # high recall on genuinely-near pairs


def test_ivf_cosine_nn_recall(spark):
    """IVF index (hash-seeded centroids + Lloyd via DataFrame aggs +
    n_probe candidate lists) recalls clustered neighbors like LSH does."""
    rs = np.random.RandomState(12)
    centers = rs.standard_normal((8, 32))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    idx = rs.randint(0, 8, 160)
    vecs = (centers[idx] + 0.01 * rs.standard_normal((160, 32))).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(160), "embedding": [v.tolist() for v in vecs]})
    emb = spark.createDataFrame(pdf).cache()
    exact = {r["vec_id"]: r["nn_id"] for r in dedup.cosine_nn(emb).collect()}
    approx = {
        r["vec_id"]: r["nn_id"]
        for r in dedup.ivf_cosine_nn(emb, n_centroids=8, n_probe=2).collect()
    }
    hits = sum(1 for k in exact if approx.get(k) == exact[k])
    assert hits / len(exact) >= 0.9
    # determinism: same seed -> identical assignments
    again = {
        r["vec_id"]: r["nn_id"]
        for r in dedup.ivf_cosine_nn(emb, n_centroids=8, n_probe=2).collect()
    }
    assert approx == again


def test_cosine_nn_lsh_high_dim(spark):
    """Regression: hyperplanes ship as a broadcast plane table — at dim=512
    the old inlined-literal rendering (~25k literals/expression) blew
    Catalyst analysis. Recall contract still holds."""
    rs = np.random.RandomState(9)
    centers = rs.standard_normal((10, 512))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    idx = rs.randint(0, 10, 60)
    # per-dim noise sigma scaled so the noise VECTOR stays small vs the
    # unit center (0.002 * sqrt(512) ~ 0.045)
    vecs = (centers[idx] + 0.002 * rs.standard_normal((60, 512))).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(60), "embedding": [v.tolist() for v in vecs]})
    emb = spark.createDataFrame(pdf).cache()
    exact = {r["vec_id"]: r["nn_id"] for r in dedup.cosine_nn(emb).collect()}
    approx = {r["vec_id"]: r["nn_id"] for r in dedup.cosine_nn_lsh(emb, planes=10, tables=6).collect()}
    hits = sum(1 for k in exact if approx.get(k) == exact[k])
    assert hits / len(exact) >= 0.8


def test_decontaminate_planted_dup(docs):
    """The fixture's exact duplicate pair (7, 2000) spans the even/odd
    split: train doc 2000 must be flagged as contaminated by eval doc 7."""
    out = {
        r["doc_id"]: (r["n_test_docs"], r["n_shared_ngrams"])
        for r in dedup.decontaminate(
            docs.where("doc_id % 2 = 0"), docs.where("doc_id % 2 = 1"), n=5
        ).collect()
    }
    assert 2000 in out
    assert out[2000][0] >= 1 and out[2000][1] >= 1


def test_hash_sample_deterministic_and_partition_independent(docs):
    a = {r["doc_id"] for r in dedup.hash_sample(docs, 0.3, seed=5).collect()}
    b = {r["doc_id"] for r in dedup.hash_sample(docs.repartition(13), 0.3, seed=5).collect()}
    c = {r["doc_id"] for r in dedup.hash_sample(docs, 0.3, seed=6).collect()}
    assert a == b and a != c
    assert 0.15 < len(a) / docs.count() < 0.45
    # disjoint-seed splits are independent draws, not complements
    assert a & c and (a - c)


def test_scrub_pii_redacts_planted_strings(spark):
    import pandas as pd

    rows = [
        (0, "write to alice.smith+x@corp.example.org today"),
        (1, "server at 192.168.10.7 answered"),
        (2, "call +1 604 555 0199 or 604-555-0111 now"),
        (3, "nothing sensitive here at all"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = {r["doc_id"]: r["text"] for r in dedup.scrub_pii(df).collect()}
    assert "[EMAIL]" in got[0] and "@" not in got[0]
    assert "[IP]" in got[1] and "192.168" not in got[1]
    assert "[PHONE]" in got[2] and "0199" not in got[2] and "0111" not in got[2]
    assert got[3] == rows[3][1]
