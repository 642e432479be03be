"""Golden tests for the curation-signal text operators (gopher gates,
repetition, PII redaction) on crafted documents."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from timebox_spark.operators import text


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(rows)], schema="doc_id long, text string"
    )


def test_redact_golden(spark):
    df = _docs(
        spark,
        [
            "contact me at jane.doe+x@example.co.uk or on +1 555-123 4567 now",
            "see https://example.com/a?b=c#d and http://x.io",
            "no pii here",
        ],
    )
    rows = df.select(text.redact().alias("r")).orderBy("doc_id").collect()
    assert rows[0]["r"] == "contact me at <EMAIL> or on <PHONE> now"
    assert rows[1]["r"] == "see <URL> and <URL>"
    assert rows[2]["r"] == "no pii here"


def test_dup_2gram_fraction_golden(spark):
    df = _docs(
        spark,
        [
            "a b a b a b",      # 2-grams: ab ba ab ba ab -> 5 grams, 2 distinct
            "all words differ here",
            "one",              # <2 tokens -> 0
            "",
        ],
    )
    rows = (
        df.select(F.round(text.dup_2gram_fraction() * 1e6).alias("q"))
        .orderBy("doc_id")
        .collect()
    )
    assert rows[0]["q"] == 600000  # 3 dups / 5 grams
    assert rows[1]["q"] == 0
    assert rows[2]["q"] == 0
    assert rows[3]["q"] == 0


def test_gopher_pass_gates(spark):
    ok = "the quick brown fox jumps over a lazy dog and it runs on"
    too_short = "the dog"
    repetitive = "the " + "spam spam " * 30
    df = _docs(spark, [ok, too_short, repetitive])
    rows = df.select(text.gopher_pass().alias("g")).orderBy("doc_id").collect()
    assert [r["g"] for r in rows] == [1, 0, 0]


def test_mean_word_length_empty_doc(spark):
    df = _docs(spark, ["abc de", ""])
    rows = df.select(text.mean_word_length().alias("m")).orderBy("doc_id").collect()
    assert rows[0]["m"] == pytest.approx(2.5)
    assert rows[1]["m"] == 0.0


def test_shuffle_shards_deterministic_and_balanced(spark):
    """The seeded shard shuffle is a pure function of (seed, key):
    stable under repartitioning, roughly balanced, and its
    within-shard order is the (shuffle_h, key) sort everywhere."""
    from timebox_spark.operators.sampling import shuffle_shards

    docs = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    a = shuffle_shards(docs, key="doc_id", n_shards=8).collect()
    b = shuffle_shards(docs.repartition(7), key="doc_id", n_shards=8).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    sizes = {}
    for r in a:
        sizes[r["shard"]] = sizes.get(r["shard"], 0) + 1
    assert len(sizes) == 8
    assert max(sizes.values()) < 2.0 * min(sizes.values())  # md5 uniformity
    # a different seed is a different permutation
    c = shuffle_shards(docs, key="doc_id", n_shards=8, seed="other").collect()
    assert sorted(map(tuple, a)) != sorted(map(tuple, c))


def test_pack_token_rows_matches_python_mirror(spark):
    """pack_token_rows materializes the fixed-budget training rows:
    every pack's exact id content equals an independent python
    replay of the md5-shuffled concat-and-chunk layout, each pack is
    full except the shard's last, and empty docs shift nothing."""
    import hashlib

    from timebox_spark.operators.sampling import (
        SHUFFLE_SEED,
        pack_token_rows,
    )

    rows = [(i, list(range(i * 100, i * 100 + (i * 37) % 50)))
            for i in range(20)]  # doc 0 is empty
    df = spark.createDataFrame(rows, "doc_id long, ids array<long>")
    got = {
        (r["shard"], r["pack"]): list(r["ids"])
        for r in pack_token_rows(df, budget=16, n_shards=2).collect()
    }

    def h(d):
        return int(
            hashlib.md5(f"{SHUFFLE_SEED}:{d}".encode()).hexdigest()[:8], 16
        )

    want = {}
    for shard in (0, 1):
        docs = sorted(
            (r for r in rows if h(r[0]) % 2 == shard),
            key=lambda r: (h(r[0]), r[0]),
        )
        stream = [t for _, ids in docs for t in ids]
        for p in range((len(stream) + 15) // 16):
            want[(shard, p)] = stream[p * 16:(p + 1) * 16]
    assert got == want
    for (shard, pack), ids in got.items():
        last = max(p for s, p in got if s == shard)
        assert len(ids) == 16 or pack == last


def test_lang_id_ngram_goldens(spark):
    from timebox_spark.operators import text as T

    rows = [
        (1, "the cat and the dog are sitting there"),          # en
        (2, "der schnelle braune fuchs und ein hund"),         # de
        (3, "los gatos que viven en la casa de madera"),       # es
        (4, "le chat et les chiens dorment dans les maisons"), # fr
        (5, "@@@@ 12345 ####"),                                # und
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["lang3"]
        for r in df.select("doc_id", T.lang_id_ngram().alias("lang3")).collect()
    }
    assert got == {1: "en", 2: "de", 3: "es", 4: "fr", 5: "und"}


def test_lang_id_ngram_tie_breaks_to_code_order(spark):
    from timebox_spark.operators import text as T

    # ' de' (es) and 'de ' (zh list) and 'der' (de) all hit once in
    # ' der '; whatever ties arise must resolve deterministically to
    # the alphabetically-first language among the maxima
    df = spark.createDataFrame([(1, " der ")], "doc_id long, text string")
    row = df.select(T.lang_id_ngram().alias("lang3")).collect()[0]
    assert row["lang3"] == "de"  # 'der' + 'de ' + ' de' ... max unique or tie->de


def test_pack_sequences_concat_and_chunk(spark):
    """Packing is floor(cumulative-tokens-before / budget) in the
    deterministic export order: pack ids start at 0, are contiguous
    per shard, and a document whose tokens straddle a window boundary
    is stamped with the window its FIRST token lands in."""
    from timebox_spark.operators.sampling import pack_sequences

    docs = spark.createDataFrame(
        [(i, 7) for i in range(200)], schema="doc_id long, nt int"
    )
    out = pack_sequences(
        docs, key="doc_id", token_col="nt", budget=10, n_shards=4
    ).collect()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    assert set(by_shard) == {0, 1, 2, 3}
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: (r["shuffle_h"], r["doc_id"]))
        before = 0
        packs = []
        for r in rows:
            assert r["pack"] == before // 10, (shard, r)
            packs.append(r["pack"])
            before += r["nt"]
        # contiguous from 0; 7-token docs over a 10-token budget
        # straddle every other boundary, so consecutive docs never
        # skip a window
        assert packs[0] == 0
        assert all(b - a in (0, 1) for a, b in zip(packs, packs[1:]))
        assert packs[-1] == (len(rows) * 7 - 7) // 10

    # stable under repartitioning (pure function of seed + key + nt)
    out2 = pack_sequences(
        docs.repartition(5), key="doc_id", token_col="nt", budget=10, n_shards=4
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_bm25_topk_golden(spark):
    """BM25 against a hand-checkable corpus: scores match an
    independent python recomputation exactly (quantized), ranking is
    (score DESC, doc_id), and a doc without any query term scores 0."""
    import math

    docs = [
        (0, "join join join filter scan"),
        (1, "vector hash join"),
        (2, "the quick brown fox"),
        (3, "hash hash vector vector vector join hash"),
        (4, "join"),
    ]
    df = _docs(spark, [t for _, t in docs])
    out = {
        r["doc_id"]: r["score_q"]
        for r in text.bm25_topk(df, k=4).collect()
    }
    # independent recompute
    terms = text.BM25_QUERY_TERMS
    toks = [t.split() for _, t in docs]
    N = len(docs)
    avgdl = sum(len(x) for x in toks) / N
    dfreq = {t: sum(1 for x in toks if t in x) for t in terms}
    scores = {}
    for i, x in enumerate(toks):
        s = 0.0
        for t in terms:
            tf = x.count(t)
            idf = math.log(1 + (N - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            s += idf * tf * (text.BM25_K1 + 1.0) / (
                tf + text.BM25_K1 * (1 - text.BM25_B + text.BM25_B * len(x) / avgdl)
            )
        scores[i] = math.floor(s * text.BM25_SCALE + 0.5)
    top4 = sorted(scores, key=lambda i: (-scores[i], i))[:4]
    assert set(out) == set(top4)
    for i in top4:
        assert out[i] == scores[i], (i, out[i], scores[i])
    assert 2 not in out and scores[2] == 0


def test_mixture_sample_rebalances_skewed_groups(spark):
    """Temperature rebalancing: rate_g = floor(1e6*sqrt(n_min/n_g));
    the min group keeps everything, a 4x group keeps ~half, and
    membership is a pure function of the key (stable under
    repartitioning)."""
    import math

    from timebox_spark.operators.sampling import (
        MIX_SCALE,
        mixture_rates,
        mixture_sample,
    )

    rows = [(i, "big" if i < 800 else "small") for i in range(1000)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    rates = {
        r["lang"]: r["rate_ppm"]
        for r in mixture_rates(docs, "lang").collect()
    }
    assert rates["small"] == MIX_SCALE  # min group: keep all
    assert rates["big"] == math.floor(
        MIX_SCALE * math.sqrt(200.0) / math.sqrt(800.0)
    )  # = 500000: a 4x-over-represented group samples at 1/2

    kept = mixture_sample(docs, "lang", key="doc_id").collect()
    by_lang = {}
    for r in kept:
        by_lang.setdefault(r["lang"], set()).add(r["doc_id"])
    assert by_lang["small"] == set(range(800, 1000))  # all kept
    # md5 at ppm 500000 keeps about half of the big group
    assert 800 * 0.4 < len(by_lang["big"]) < 800 * 0.6
    # membership is data-determined: identical under repartitioning
    kept2 = mixture_sample(
        docs.repartition(13), "lang", key="doc_id"
    ).collect()
    assert sorted(map(tuple, kept)) == sorted(map(tuple, kept2))


def test_hashed_linear_score_matches_python_model(spark):
    """The Spark score equals an independently-computed Python
    reference of the same fastText-shaped model: md5 feature-hash into
    CLF_BUCKETS, md5-derived integer weight per bucket, sum."""
    import hashlib

    from timebox_spark.operators import text as T

    def py_score(doc: str) -> int:
        s = 0
        for t in doc.split():
            b = (
                int(hashlib.md5(f"{T.CLF_SALT}:{t}".encode()).hexdigest()[:8], 16)
                % T.CLF_BUCKETS
            )
            w = (
                int(hashlib.md5(f"w:{b}".encode()).hexdigest()[:8], 16)
                % T.CLF_WRANGE
                - (T.CLF_WRANGE - 1) // 2
            )
            s += w
        return s

    docs = [
        (1, "spark makes scans fast"),
        (2, "fast scans makes spark"),  # permutation: same score
        (3, ""),  # empty: score 0
        (4, "the the the"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id", T.hashed_linear_score().alias("s")
        ).collect()
    }
    assert got == {i: py_score(t) for i, t in docs}
    assert got[1] == got[2]
    assert got[3] == 0

    top = T.classifier_topk(df, k=2).collect()
    ranked = sorted(got.items(), key=lambda kv: (-kv[1], kv[0]))[:2]
    assert [(r["doc_id"], r["clf_score"]) for r in top] == ranked


def test_bigram_lm_scores_match_python_model(spark):
    """Per-doc scores equal an independent Python implementation of
    the same add-one-smoothed bigram LM (context counts from the
    bigram table, vocab over all tokens); degenerate docs score 0."""
    import math
    from collections import Counter

    from timebox_spark.operators import text as T

    docs = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat"),
        (3, "dog"),  # 1 token: no bigrams
        (4, ""),  # empty
        (5, "the cat the cat"),
    ]
    toks = {i: t.split() for i, t in docs}
    bigrams = {
        i: [f"{l[j - 1]} {l[j]}" for j in range(1, len(l))]
        for i, l in toks.items()
    }
    c12 = Counter(b for bs in bigrams.values() for b in bs)
    c1 = Counter()
    for bg, c in c12.items():
        c1[bg.split(" ")[0]] += c
    v = len({t for l in toks.values() for t in l})
    lp_q = {
        bg: math.floor(
            math.log((c + 1) / (c1[bg.split(" ")[0]] + v)) * T.PPL_SCALE + 0.5
        )
        for bg, c in c12.items()
    }

    def expected(i):
        bs = bigrams[i]
        if not bs:
            return (0, 0, 0)
        s = sum(lp_q[b] for b in bs)
        return (len(bs), s, math.floor(s / len(bs) + 0.5))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_bigrams"], r["lp_sum_q"], r["avg_lp_q"])
        for r in T.bigram_lm_scores(df).collect()
    }
    assert got == {i: expected(i) for i, _ in docs}

    top = T.perplexity_topk(df, k=10).collect()
    ids = [r["doc_id"] for r in top]
    assert 3 not in ids and 4 not in ids  # no-bigram docs excluded
    ranked = sorted(
        (i for i in toks if bigrams[i]),
        key=lambda i: (-expected(i)[2], i),
    )
    assert ids == ranked


def test_bpe_pair_counts_match_python(spark):
    """Corpus pair counts equal a hand BPE counting pass over the
    word-frequency table; 1-char words contribute nothing."""
    from collections import Counter

    from timebox_spark.operators import text as T

    docs = [(1, "low lower low a"), (2, "newest low n")]
    words = Counter(w for _, t in docs for w in t.split())
    expected = Counter()
    for w, freq in words.items():
        for i in range(len(w) - 1):
            expected[w[i : i + 2]] += freq
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["pair"]: r["n"] for r in T.bpe_pair_counts(df).collect()}
    top = dict(
        sorted(expected.items(), key=lambda kv: (-kv[1], kv[0]))[
            : T.BPE_TOP_PAIRS
        ]
    )
    assert got == top
    assert got["lo"] == 4  # 'low' freq 3 + 'lower' freq 1


def test_curate_classifier_gate_and_mixture_balance(spark):
    """The optional classifier gate drops exactly the docs under the
    threshold, and mixture_balance downsamples the dominant predicted
    language — both without changing the default-path results."""
    from timebox_spark.operators import pipeline, text as T

    rows = []
    for i in range(40):  # en-heavy corpus, all above base gates
        rows.append((i, "the cat and the dog is of the a that it on sat " * 3))
    for i in range(40, 50):
        rows.append((i, "el la que de es el la que de es la el que es de " * 3))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    base = pipeline.curate(df, langs=("en", "es"), min_quality_q=0, min_tokens=3)
    base_ids = {r["doc_id"] for r in base.collect()}
    # duplicates collapse: identical texts keep the smallest id
    assert base_ids == {0, 40}

    # classifier gate: with a threshold above every score, nothing survives
    scores = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id", T.hashed_linear_score().alias("s")
        ).collect()
    }
    hi = max(scores.values()) + 1
    gated = pipeline.curate(
        df, langs=("en", "es"), min_quality_q=0, min_tokens=3,
        classifier_min_score=hi,
    )
    assert gated.count() == 0
    lo = min(scores.values())
    ungated = pipeline.curate(
        df, langs=("en", "es"), min_quality_q=0, min_tokens=3,
        classifier_min_score=lo,
    )
    assert {r["doc_id"] for r in ungated.collect()} == base_ids

    # mixture balance needs distinct texts; make an en-skewed corpus
    uniq = [(i, f"the cat and dog number {i} is of the a that it on") for i in range(80)]
    uniq += [(100 + i, f"el la que de es numero {i} el la que es de") for i in range(20)]
    dfu = spark.createDataFrame(uniq, "doc_id long, text string")
    bal = pipeline.curate(
        dfu, langs=("en", "es"), min_quality_q=0, min_tokens=3,
        mixture_balance=True,
    )
    by_lang = {
        r["lang_pred"]: r["n"]
        for r in bal.groupBy("lang_pred").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert by_lang["es"] == 20  # min group keeps everything
    assert by_lang["en"] < 80  # head language is downsampled


def test_top_bigram_char_mass_golden(spark):
    """Repetition char-mass matches hand computation: a doc of one
    repeated bigram scores near 1e6, distinct text scores low, and
    degenerate docs score 0."""
    from collections import Counter

    from timebox_spark.operators import text as T

    docs = [
        (1, "spam ham spam ham spam ham"),
        (2, "all tokens here are different words"),
        (3, "x"),
        (4, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: r["rep_frac_q"]
        for r in T.top_bigram_char_mass(df).collect()
    }

    import math

    def py(textv):
        toks = textv.split()
        if len(toks) < 2:
            return 0
        grams = Counter(
            f"{toks[i]} {toks[i + 1]}" for i in range(len(toks) - 1)
        )
        mass = max(c * len(g) for g, c in grams.items())
        return math.floor(mass * 1_000_000.0 / len(textv) + 0.5)

    assert got == {i: py(t) for i, t in docs}
    assert got[1] > 900_000  # 'spam ham' x3 covers most chars
    assert got[3] == 0 and got[4] == 0

    top = T.repetition_topk(df, k=2).collect()
    assert [r["doc_id"] for r in top] == [1, 2]


def test_tokenizer_fertility_golden(spark):
    """Hand-computed fertility/compression: exact integer ppm ratios,
    vocab counts distinct raw words, empty-text groups get 0 ratios
    (not a divide error)."""
    from timebox_spark.operators.text import tokenizer_fertility

    docs = spark.createDataFrame(
        [
            (1, "en", "ab cd, ef!"),  # words 3; subtok ab|cd|,|ef|! = 5
            (2, "en", "ab ab"),       # words 2; subtok 2; chars 5
            (3, "xx", ""),            # empty: all zero, ratios 0
        ],
        "doc_id long, lang string, text string",
    )
    got = {
        r["lang"]: r.asDict()
        for r in tokenizer_fertility(docs, with_vocab=True).collect()
    }
    en = got["en"]
    assert (en["n_docs"], en["n_words"], en["n_sub_tokens"], en["n_chars"]) \
        == (2, 5, 7, 15)
    assert en["n_distinct_words"] == 3  # {'ab', 'cd,', 'ef!'}
    assert en["fertility_ppm"] == 7_000_000 // 5
    assert en["chars_per_sub_token_ppm"] == 15_000_000 // 7
    xx = got["xx"]
    assert (xx["n_words"], xx["n_sub_tokens"], xx["n_distinct_words"]) == (0, 0, 0)
    assert (xx["fertility_ppm"], xx["chars_per_sub_token_ppm"]) == (0, 0)
    # without the vocab pass the column is absent (one-scan default)
    assert "n_distinct_words" not in tokenizer_fertility(docs).columns


def test_source_kl_divergence_matches_python(spark):
    """Per-group KL divergence equals an independent Python recompute
    of the same smoothed top-K model; an on-distribution group scores
    (near) zero and a shifted group scores higher."""
    import math
    from collections import Counter

    from timebox_spark.operators import text as T

    rows = []
    for i in range(30):  # two balanced sources, one skewed
        rows.append((i, "alpha beta gamma delta", "a"))
        rows.append((100 + i, "alpha beta gamma delta", "b"))
    for i in range(10):
        rows.append((200 + i, "omega omega omega alpha", "c"))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        r["source"]: r["kl_q"]
        for r in T.source_kl_divergence(df).collect()
    }

    per_g = {}
    for _, t, g in rows:
        per_g.setdefault(g, Counter()).update(t.split())
    corpus = Counter()
    for c in per_g.values():
        corpus.update(c)
    vocab = sorted(corpus, key=lambda w: (-corpus[w], w))[: T.KL_VOCAB_K]
    ct = sum(corpus.values())
    K = float(T.KL_VOCAB_K)

    def py_kl(g):
        gt = sum(per_g[g].values())
        s = 0
        for w in vocab:
            pg = (per_g[g].get(w, 0) + 1) / (gt + K)
            pc = (corpus[w] + 1) / (ct + K)
            s += math.floor(pg * math.log(pg / pc) * T.KL_TERM_SCALE + 0.5)
        return s

    assert got == {g: py_kl(g) for g in per_g}
    assert got["a"] == got["b"]  # identical distributions
    assert got["c"] > got["a"]  # shifted domain diverges more


def test_write_training_shards_materializes_export_order(spark, tmp_path):
    """Each shard=N dir holds exactly one parquet file whose physical
    row order is the (shuffle_h, key) permutation, membership matches
    shuffle_shards, and the manifest digest matches a recompute."""
    import glob

    from timebox_spark.operators.sampling import (
        shuffle_shards,
        write_training_shards,
    )

    docs = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    out = str(tmp_path / "export")
    manifest = {
        r["shard"]: (r["n_rows"], r["order_digest"])
        for r in write_training_shards(docs, out, n_shards=4).collect()
    }
    expected = {}
    for r in shuffle_shards(docs, key="doc_id", n_shards=4).collect():
        expected.setdefault(r["shard"], []).append(
            (r["shuffle_h"], r["doc_id"])
        )
    assert set(manifest) == set(expected)
    for shard, rows in expected.items():
        rows.sort()
        files = glob.glob(f"{out}/shard={shard}/*.parquet")
        assert len(files) == 1  # whole shard in one sorted file
        got = spark.read.parquet(files[0]).collect()
        assert [r["doc_id"] for r in got] == [d for _, d in rows]
        digest = sum(
            (d % 1_000_003) * ((i + 1) % 1_000_003) % 1_000_000_007
            for i, (_, d) in enumerate(rows)
        )
        assert manifest[shard] == (len(rows), digest)


def test_curate_to_shards_end_to_end(spark, tmp_path):
    """One call from raw docs to written train shards: the manifest
    counts equal the curated train split, and a second run over the
    same corpus reproduces identical digests (deterministic export)."""
    from tests.conftest import SF_SMOKE
    from timebox_spark.operators import pipeline
    from timebox_spark.plans.tables import load

    docs = load(spark, SF_SMOKE, "documents")
    out = str(tmp_path / "train_export")
    m1 = pipeline.curate_to_shards(
        docs, out, n_shards=4, langs=("en", "es"), min_quality_q=0,
        min_tokens=3,
    ).collect()
    n_written = sum(r["n_rows"] for r in m1)
    expected = (
        pipeline.curate(docs, langs=("en", "es"), min_quality_q=0, min_tokens=3)
        .filter("split = 'train'")
        .count()
    )
    assert n_written == expected > 0
    m2 = pipeline.curate_to_shards(
        docs, str(tmp_path / "train_export2"), n_shards=4,
        langs=("en", "es"), min_quality_q=0, min_tokens=3,
    ).collect()
    assert sorted(map(tuple, m1)) == sorted(map(tuple, m2))


def test_mixture_rates_property_random_sizes(spark):
    """Property: for random group sizes, every rate equals
    floor(1e6·sqrt(n_min/n_g)), the min group's rate is exactly 1e6,
    and rates are monotone decreasing in group size."""
    import math
    import random

    from timebox_spark.operators.sampling import MIX_SCALE, mixture_rates

    rng = random.Random(7)
    sizes = {f"g{i}": rng.randint(1, 5000) for i in range(12)}
    rows = [
        (j, g) for g, n in sizes.items() for j in range(n)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    got = {
        r["lang"]: r["rate_ppm"]
        for r in mixture_rates(df, "lang").collect()
    }
    n_min = min(sizes.values())
    for g, n in sizes.items():
        assert got[g] == math.floor(
            MIX_SCALE * math.sqrt(float(n_min)) / math.sqrt(float(n))
        )
    assert got[min(sizes, key=sizes.get)] == MIX_SCALE
    ordered = sorted(sizes.items(), key=lambda kv: kv[1])
    rates = [got[g] for g, _ in ordered]
    assert rates == sorted(rates, reverse=True)


def test_hashed_scorers_unicode_tokens(spark):
    """md5-based feature hashing agrees with the Python model on
    accented/CJK/emoji tokens — the UTF-8-encoding assumption all
    md5-portable operators share (Spark string→binary md5, DuckDB
    md5(varchar), Python .encode())."""
    import hashlib

    from timebox_spark.operators import text as T

    doc = "café 北京 straße ложка 🚀 naïve ℓ∞"

    def py_score(d):
        s = 0
        for t in d.split():
            b = (
                int(hashlib.md5(f"{T.CLF_SALT}:{t}".encode()).hexdigest()[:8], 16)
                % T.CLF_BUCKETS
            )
            s += (
                int(hashlib.md5(f"w:{b}".encode()).hexdigest()[:8], 16)
                % T.CLF_WRANGE
                - (T.CLF_WRANGE - 1) // 2
            )
        return s

    def py_vec(d):
        half = (T.EMB_WRANGE - 1) // 2
        return [
            sum(
                int(hashlib.md5(f"{t}:{i}".encode()).hexdigest()[:8], 16)
                % T.EMB_WRANGE
                - half
                for t in d.split()
            )
            for i in range(T.EMB_DIM)
        ]

    df = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    row = df.select(
        T.hashed_linear_score().alias("s"),
        T.hashed_embedding().alias("v"),
    ).collect()[0]
    assert row["s"] == py_score(doc)
    assert row["v"] == py_vec(doc)


def test_data_card_summarizes_corpus(spark):
    """The datasheet's exact integers match independent recomputes:
    doc/lang/source counts, token totals, and the exact-dup row
    count."""
    from tests.conftest import SF_SMOKE
    from timebox_spark.operators import pipeline
    from timebox_spark.plans.tables import load

    docs = load(spark, SF_SMOKE, "documents")
    card = {
        (r["section"], r["key"]): r["value"]
        for r in pipeline.data_card(docs).collect()
    }
    n = docs.count()
    assert card[("size", "docs")] == n
    langs = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for lg, cnt in langs.items():
        assert card[("lang", lg)] == cnt
    assert sum(v for (s, _), v in card.items() if s == "source") == n
    from timebox_spark.operators.dedup import exact_dedup_stats

    dup = exact_dedup_stats(docs).collect()[0]["n_dup_rows"]
    assert card[("dedup", "exact_dup_rows")] == dup
    assert card[("size", "tokens")] > 0


def _ref_bpe(words: list[str], n_merges: int):
    """Independent pure-Python BPE trainer (classic dict loop) with
    the same contract: max pair count, tie-break (a, b) asc, greedy
    leftmost-non-overlapping merge application."""
    vocab: dict[tuple, int] = {}
    for w in words:
        vocab[tuple(w)] = vocab.get(tuple(w), 0) + 1
    merges = []
    for _ in range(n_merges):
        counts: dict[tuple, int] = {}
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = (
                    counts.get((syms[i], syms[i + 1]), 0) + f
                )
        if not counts:
            break
        (a, b), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, n))
        nv: dict[tuple, int] = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nv[tuple(out)] = nv.get(tuple(out), 0) + f
        vocab = nv
    return merges, vocab


def test_bpe_train_matches_reference(spark):
    """Full trainer vs the independent Python reference on a corpus
    with engineered ties and self-overlapping runs (aaa + (a,a) must
    merge greedily to [aa, a])."""
    from timebox_spark.operators import text as T

    words = (
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
        + ["aaa"] * 4 + ["go", "og"] * 3
    )
    docs = spark.createDataFrame(
        [(i, " ".join(words[i::4])) for i in range(4)],
        "doc_id long, text string",
    )
    exp_merges, exp_vocab = _ref_bpe(words, 6)
    got_merges, got_vocab = T.bpe_train(docs, n_merges=6)
    assert got_merges == exp_merges
    exp_tokens = sum(len(s) * f for s, f in exp_vocab.items())
    summary = {
        (r["round"], r["a"], r["b"]): r["n"]
        for r in T.bpe_train_summary(docs, n_merges=6).collect()
    }
    assert summary[(0, "<tokens>", "")] == exp_tokens


def test_apply_bpe_matches_reference(spark):
    from timebox_spark.operators import text as T

    words = ["aaa", "aaaa", "banana", "low", "lowest"]
    docs = spark.createDataFrame(
        [(0, " ".join(words))], "doc_id long, text string"
    )
    merges, _ = T.bpe_train(docs, n_merges=4)

    def ref_apply(w):
        syms = list(w)
        for a, b, _ in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    got = docs.select(T.apply_bpe("text", merges).alias("t")).collect()[0]["t"]
    exp = [s for w in words for s in ref_apply(w)]
    assert got == exp


def test_line_dedup_planted(spark):
    """Cross-document repeated lines are dropped from ALL docs;
    unique lines survive and reassemble in original order."""
    import hashlib

    from timebox_spark.operators import dedup as D

    rows = [
        (0, "keep zero\nboilerplate footer\nunique tail"),
        (1, "keep one\nboilerplate footer"),
        (2, "boilerplate footer"),
        (3, "all unique here\nand here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_lines"], r["n_kept"], r["kept_fp"])
        for r in D.line_dedup(docs, F.split("text", "\n")).collect()
    }

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    assert got[0] == (3, 2, md5("keep zero\nunique tail"))
    assert got[1] == (2, 1, md5("keep one"))
    assert got[2] == (1, 0, md5(""))
    assert got[3] == (2, 2, md5("all unique here\nand here"))


def test_chunk_lines_shapes(spark):
    from timebox_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(0, "a b c d e f g h i j"), (1, "x"), (2, "p q r s t u v w")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["lines"]
        for r in docs.select(
            "doc_id", D.chunk_lines("text", 4).alias("lines")
        ).collect()
    }
    assert got[0] == ["a b c d", "e f g h", "i j"]
    assert got[1] == ["x"]
    assert got[2] == ["p q r s", "t u v w"]


def test_bpe_train_random_corpora_match_reference(spark):
    """Property: on random small corpora the distributed trainer
    reproduces the reference merges exactly (including tie rounds and
    multi-char second-order merges)."""
    import random

    from timebox_spark.operators import text as T

    rng = random.Random(1234)
    alphabet = "abcd"
    for trial in range(3):
        words = [
            "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 6)))
            for _ in range(60)
        ]
        docs = spark.createDataFrame(
            [(i, " ".join(words[i::3])) for i in range(3)],
            "doc_id long, text string",
        )
        exp_merges, exp_vocab = _ref_bpe(words, 5)
        got_merges, got_vocab = T.bpe_train(docs, n_merges=5)
        assert got_merges == exp_merges, f"trial {trial}"
        exp_tokens = sum(len(s) * f for s, f in exp_vocab.items())
        got_tokens = got_vocab.select(
            F.sum(
                F.col("freq")
                * (
                    (
                        F.length("seq")
                        - F.length(
                            F.replace(
                                F.col("seq"), F.lit(T.BPE_SEP + T.BPE_SEP)
                            )
                        )
                    )
                    / 2
                    + 1
                ).cast("long")
            )
        ).collect()[0][0]
        assert got_tokens == exp_tokens, f"trial {trial}"


def test_dsir_planted_target_lookalikes_rank_first(spark):
    """DSIR importance weights: documents drawn from the target
    word distribution must outrank documents of off-target words,
    and every reported score equals the Python recompute of
    sum(lr_q[bucket(token)]) with the engine's own ratio table."""
    import hashlib

    from timebox_spark.operators import text as T

    tgt_words = "alpha beta gamma delta".split()
    off_words = "omega sigma kappa zeta".split()
    rows = [(i, " ".join(tgt_words) * 3) for i in range(4)]
    rows += [(10 + i, " ".join(off_words) * 3) for i in range(4)]
    rows += [(20, " ".join(tgt_words + off_words))]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    target = docs.filter("doc_id < 4")

    lr = T.dsir_logratio_table(target, docs)
    assert len(lr) == T.DSIR_BUCKETS
    got = T.dsir_topk(docs, target, k=9).collect()
    order = [r["doc_id"] for r in got]
    # pure-target docs first, mixed doc next, off-target docs last
    assert set(order[:4]) == {0, 1, 2, 3}
    assert order[4] == 20
    assert set(order[5:]) == {10, 11, 12, 13}

    def bucket(tok):
        h = int(hashlib.md5(f"{T.DSIR_SALT}:{tok}".encode()).hexdigest()[:8], 16)
        return h % T.DSIR_BUCKETS

    texts = dict(rows)
    for r in got:
        expect = sum(lr[bucket(t)] for t in texts[r["doc_id"]].split())
        assert r["dsir_q"] == expect, r["doc_id"]


def test_line_dedup_random_corpora_match_reference(spark):
    """Property: on random corpora with engineered shared lines, the
    distributed line dedup agrees with a pure-Python recompute of
    df counts, kept sets, and reassembled-text digests."""
    import hashlib
    import random

    from timebox_spark.operators import dedup as D

    rng = random.Random(99)
    pool = [f"line {i}" for i in range(12)]
    for trial in range(3):
        rows = []
        for d in range(15):
            n = rng.randint(1, 6)
            rows.append((d, "\n".join(rng.choice(pool) for _ in range(n))))
        docs = spark.createDataFrame(rows, "doc_id long, text string")

        df_docs: dict[str, set] = {}
        for d, t in rows:
            for ln in t.split("\n"):
                df_docs.setdefault(ln, set()).add(d)
        exp = {}
        for d, t in rows:
            lines = t.split("\n")
            kept = [ln for ln in lines if len(df_docs[ln]) <= 1]
            exp[d] = (
                len(lines),
                len(kept),
                hashlib.md5("\n".join(kept).encode()).hexdigest(),
            )
        got = {
            r["doc_id"]: (r["n_lines"], r["n_kept"], r["kept_fp"])
            for r in D.line_dedup(docs, F.split("text", "\n")).collect()
        }
        assert got == exp, f"trial {trial}"


def test_cap_per_group_keeps_top_k_deterministically(spark):
    """cap_per_group keeps exactly max_per_group rows per group under
    the given order, and the default order (key asc) is deterministic."""
    import pandas as pd
    from pyspark.sql import functions as F

    from timebox_spark.operators.sampling import cap_per_group

    pdf = pd.DataFrame(
        {
            "doc_id": range(10),
            "source": ["a"] * 6 + ["b"] * 3 + ["c"],
            "text": ["x" * (i + 1) for i in range(10)],
        }
    )
    df = spark.createDataFrame(pdf)
    kept = cap_per_group(df, "source", "doc_id", max_per_group=2)
    got = sorted(r["doc_id"] for r in kept.collect())
    assert got == [0, 1, 6, 7, 9]  # first 2 per source by id; c keeps its 1
    # order_by length(text) DESC keeps the LONGEST docs instead
    kept2 = cap_per_group(
        df, "source", "doc_id", max_per_group=2,
        order_by=[F.length("text").desc(), "doc_id"],
    )
    got2 = sorted(r["doc_id"] for r in kept2.collect())
    assert got2 == [4, 5, 7, 8, 9]
    assert "__cap_rn" not in kept.columns


def test_token_budget_per_group_prefix_semantics(spark):
    """token_budget_per_group keeps the maximal ordered PREFIX within
    the budget per group: a doc that would overflow stops the group —
    a later smaller doc is NOT pulled in to backfill; NULL token
    counts consume nothing; a non-binding group keeps everything."""
    import pytest

    from timebox_spark.operators.sampling import token_budget_per_group

    df = spark.createDataFrame(
        [
            # group a, budget 10: 6 -> 13 overflows -> 2 NOT backfilled
            (0, "a", 6),
            (1, "a", 7),
            (2, "a", 2),
            # group b: NULL consumes nothing; total 9 <= 10 all kept
            (3, "b", 4),
            (4, "b", None),
            (5, "b", 5),
            # group c: first doc alone overflows -> nothing kept
            (6, "c", 11),
        ],
        "doc_id long, source string, n_tokens int",
    )
    kept = token_budget_per_group(df, "source", "n_tokens", budget=10)
    assert sorted(r["doc_id"] for r in kept.collect()) == [0, 3, 4, 5]
    assert "__tb_cum" not in kept.columns
    with pytest.raises(ValueError, match="budget"):
        token_budget_per_group(df, "source", "n_tokens", budget=-1)


def test_token_budget_bucketed_default_matches_windowed_with_nulls(spark):
    """Round 17: the default ascending-key order routes through the
    bucketed-carry kernel (no per-source single-task sort). The NULL
    fixture pins the path equivalence the optimization must preserve
    (the repo's both-paths rule): NULL group (own budget), NULL token
    (consumes nothing), NULL key (sorts first — bucket −1), plus a
    group large enough to span many buckets. order_by=[key] forces the
    windowed twin of the SAME order; kept sets must match exactly."""
    from pyspark.sql import functions as F

    from timebox_spark.operators.sampling import token_budget_per_group

    rows = [(i, "a" if i % 3 else "b", (i % 7) or None) for i in range(500)]
    rows += [(None, "a", 3), (9001, None, 5), (9002, None, 4)]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, n_tokens int"
    )
    for budget in (0, 37, 10_000):
        bucketed = token_budget_per_group(
            df, "source", "n_tokens", budget=budget
        )
        windowed = token_budget_per_group(
            df, "source", "n_tokens", budget=budget, order_by=["doc_id"]
        )
        key = lambda r: (r["doc_id"] is None, r["doc_id"], r["source"])
        assert sorted(bucketed.collect(), key=key) == sorted(
            windowed.collect(), key=key
        ), budget
    # NULL-group rows kept under their own budget on the bucketed path
    kept = token_budget_per_group(df, "source", "n_tokens", budget=9)
    null_kept = [
        r["doc_id"] for r in kept.collect() if r["source"] is None
    ]
    assert sorted(null_kept) == [9001, 9002]  # 5 + 4 = 9 <= 9
    assert set(kept.columns) == set(df.columns)


def test_token_budget_cms_composes_with_bucketed_path(spark):
    """The corpus-horizon (cms=) branch rides on the same cumsum —
    bucketed default path and windowed twin agree under a sketch
    prior too."""
    from timebox_spark.operators.sketches import cms_build
    from timebox_spark.operators.sampling import token_budget_per_group

    hist = spark.createDataFrame(
        [("a", 5)] * 4 + [("b", 1)], "source string, n int"
    )
    cms = cms_build(hist, "source", weight="n")
    df = spark.createDataFrame(
        [(i, "a" if i < 6 else "b", 4) for i in range(12)],
        "doc_id long, source string, n_tokens int",
    )
    got_b = token_budget_per_group(
        df, "source", "n_tokens", budget=25, cms=cms
    )
    got_w = token_budget_per_group(
        df, "source", "n_tokens", budget=25, cms=cms, order_by=["doc_id"]
    )
    ids = lambda d: sorted(r["doc_id"] for r in d.collect())
    assert ids(got_b) == ids(got_w)
    # group a: prior 20 -> allowance 5 -> 1 doc (4 <= 5); group b:
    # prior 1 -> allowance 24 -> 6 docs (24 <= 24)
    assert ids(got_b) == [0, 6, 7, 8, 9, 10, 11]


def test_lsh_tuning_matches_s_curve():
    """lsh_tuning returns the divisor pair whose (1/b)^(1/r) is
    closest to the requested threshold, and validates inputs."""
    import pytest

    from timebox_spark.operators.dedup import lsh_tuning

    assert lsh_tuning(0.7, 32) == (8, 4)  # s* = 0.594 beats 0.841
    assert lsh_tuning(0.9, 32) == (2, 16)
    assert lsh_tuning(0.2, 32) == (16, 2)
    b, r = lsh_tuning(0.35, 64)
    assert b * r == 64
    # exhaustive optimality check at num_hashes=48
    t = 0.55
    b, r = lsh_tuning(t, 48)
    cands = [(bb, 48 // bb) for bb in range(1, 49) if 48 % bb == 0]
    best = min(cands, key=lambda br: abs((1 / br[0]) ** (1 / br[1]) - t))
    assert (b, r) == best
    with pytest.raises(ValueError):
        lsh_tuning(0.0)
    with pytest.raises(ValueError):
        lsh_tuning(1.0)
    # bias sides: precision = closest s* >= t, recall = closest <= t
    # (s* for 32 hashes: b=2→0.958, b=4→0.841, b=8→0.595, b=16→0.25)
    assert lsh_tuning(0.35, 32, bias="precision") == (8, 4)
    assert lsh_tuning(0.35, 32, bias="recall") == (16, 2)
    assert lsh_tuning(0.7, 32, bias="precision") == (4, 8)
    assert lsh_tuning(0.7, 32, bias="recall") == (8, 4)
    # fallback to closest when the requested side is empty
    assert lsh_tuning(0.99, 32, bias="precision") == (1, 32)
    assert lsh_tuning(0.02, 32, bias="recall") == (32, 1)
    with pytest.raises(ValueError):
        lsh_tuning(0.5, 32, bias="optimism")


def test_minhash_dedup_derives_bands_from_threshold(spark):
    """Round-8 verdict task 8: minhash_dedup(threshold=...) derives
    (bands, rows) via lsh_tuning instead of a hard-coded 8 — the
    band-join candidate rate tracks the threshold: a loose threshold
    derives more/narrower bands (more candidates), a tight one
    fewer/wider (fewer candidates). Pinned on the sf0.001 corpus."""
    from tests.conftest import SF_SMOKE
    from timebox_spark.operators import dedup
    from timebox_spark.plans.tables import load

    docs = load(spark, SF_SMOKE, "documents")
    combined = dedup.minhash_signatures(docs, emit_sets=True).persist()

    def n_cands(threshold: float) -> int:
        b, _ = dedup.lsh_tuning(threshold, 32, bias="precision")
        return dedup.minhash_lsh_candidates(combined, bands=b).count()

    loose, mid, tight = n_cands(0.2), n_cands(0.35), n_cands(0.8)
    combined.unpersist()
    # 0.2 -> (16, 2): flood; 0.35 -> (8, 4); 0.8 -> (4, 8): scarce
    assert loose > mid > tight, (loose, mid, tight)
    # and the pipeline's own derivation equals the explicit-bands run
    auto = dedup.minhash_dedup(docs, threshold=0.35)
    explicit = dedup.minhash_dedup(docs, threshold=0.35, bands=8)
    assert sorted(map(tuple, auto.collect())) == sorted(
        map(tuple, explicit.collect())
    )


def test_chunk_documents_windows_and_overlap(spark):
    """chunk_documents: minimal-cover boundaries, overlap stride,
    single-chunk short docs, zero-chunk empty docs."""
    import pandas as pd
    import pytest

    from timebox_spark.operators import text as T

    toks40 = [f"t{i}" for i in range(40)]
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [" ".join(toks40), "a b c", ""],
        }
    )
    df = spark.createDataFrame(pdf)
    out = T.chunk_documents(df, max_tokens=32, overlap=8)
    rows = {
        (r["doc_id"], r["chunk_idx"]): (r["chunk_text"], r["n_tokens"])
        for r in out.collect()
    }
    # doc 0: nt=40 > 32 -> 1 + ceil(8/24) = 2 chunks, stride 24
    assert rows[(0, 0)] == (" ".join(toks40[0:32]), 32)
    assert rows[(0, 1)] == (" ".join(toks40[24:40]), 16)
    # doc 1: one short chunk; doc 2: no chunks
    assert rows[(1, 0)] == ("a b c", 3)
    assert set(rows) == {(0, 0), (0, 1), (1, 0)}
    with pytest.raises(ValueError):
        T.chunk_documents(df, max_tokens=8, overlap=8)


def test_html_to_text_hand_cases(spark):
    """Extraction rules on hand-written HTML: script/style bodies with
    markup-shaped strings, comments, entities, whitespace."""
    from timebox_spark.operators import text as T

    cases = [
        (
            '<html><script a=1>var s = "<b>x</b>";\nmore</script>'
            "<p>Hi\n there</p></html>",
            "Hi there",
        ),
        ("<style>p {color: red}</style><h1>A</h1>B", "A B"),
        ("<!-- secret\nstuff -->keep &amp; &lt;this&gt;", "keep & <this>"),
        ("a&nbsp;b &quot;c&quot; &#39;d&#39;", 'a b "c" \'d\''),
        ("no markup at all", "no markup at all"),
        ("", ""),
    ]
    df = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(cases)], "i long, h string"
    )
    got = {
        r["i"]: r["t"]
        for r in df.select(
            "i", T.html_to_text(F.col("h")).alias("t")
        ).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i])


def test_html_synth_and_extract_match_duckdb(spark, duck):
    """The full synth→extract chain agrees with the SQL mirror on the
    real documents table — same page string, same extracted text."""
    from timebox_spark.operators import text as T
    from timebox_spark.plans.tables import load
    from tests.conftest import SF_SMOKE

    docs = load(spark, SF_SMOKE, "documents")
    sp = (
        docs.select(
            "doc_id",
            T.synth_html().alias("page"),
            T.html_to_text(T.synth_html()).alias("txt"),
        )
        .orderBy("doc_id")
        .toPandas()
    )
    du = duck.execute(
        f"SELECT doc_id, {T.synth_html_sql()} AS page, "
        f"{T.html_to_text_sql(T.synth_html_sql())} AS txt "
        "FROM documents ORDER BY doc_id"
    ).fetchdf()
    assert sp["page"].tolist() == du["page"].tolist()
    assert sp["txt"].tolist() == du["txt"].tolist()
    # the original text survives extraction verbatim (it is planted
    # inside the <p> block and contains no markup)
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for d, t in zip(sp["doc_id"], sp["txt"]):
        assert texts[d] in t, d


def test_luhn_known_numbers(spark):
    """Classic Luhn vectors: 4111111111111111 valid, off-by-one
    invalid, separators stripped, short runs rejected."""
    from timebox_spark.operators import text as T

    cases = [
        ("4111111111111111", True),
        ("4111111111111112", False),
        ("4539 5787 6362 1486", True),
        ("4539-5787-6362-1486", True),
        ("79927398713", False),  # valid checksum but only 11 digits
        ("1234", False),
    ]
    df = spark.createDataFrame(
        [(i, s) for i, (s, _) in enumerate(cases)], "i long, s string"
    )
    got = {
        r["i"]: r["v"]
        for r in df.select(
            "i", T.luhn_valid(F.col("s")).alias("v")
        ).collect()
    }
    for i, (s, want) in enumerate(cases):
        assert got[i] == want, s
    # check digit completes any 15-digit base to valid
    base = df.select(
        T.luhn_valid(
            F.concat(
                F.lit("453957876362148"),
                T.luhn_check_digit(F.lit("453957876362148")),
            )
        ).alias("v")
    ).first()["v"]
    assert base is True


def test_redact_pii_extended_behavior(spark):
    """Valid cards redact, invalid survive (as PHONE at best), IPs
    redact, base URL/EMAIL chain still applies."""
    from timebox_spark.operators import text as T

    rows = [
        (0, "pay 4111 1111 1111 1111 now"),
        (1, "code 4111 1111 1111 1112 is not a card"),
        (2, "host 192.168.0.1 and http://x.io/a"),
        (3, "mail a@b.co"),
    ]
    df = spark.createDataFrame(rows, "i long, s string")
    got = {
        r["i"]: r["t"]
        for r in df.select(
            "i", T.redact_pii_extended(F.col("s")).alias("t")
        ).collect()
    }
    assert got[0] == "pay <CC> now"
    assert "<CC>" not in got[1]
    assert got[2] == "host <IP> and <URL>"
    assert got[3] == "mail <EMAIL>"


def test_pii_synth_and_redact_match_duckdb(spark, duck):
    """synth_pii + redact_pii_extended vs the SQL mirrors on the real
    documents table: planted strings and redacted outputs identical;
    even ids lose their card, odd ids keep theirs."""
    from timebox_spark.operators import text as T
    from timebox_spark.plans.tables import load
    from tests.conftest import SF_SMOKE

    docs = load(spark, SF_SMOKE, "documents")
    sp = (
        docs.select(
            "doc_id",
            T.synth_pii().alias("planted"),
            T.redact_pii_extended(T.synth_pii()).alias("red"),
        )
        .orderBy("doc_id")
        .toPandas()
    )
    du = duck.execute(
        f"SELECT doc_id, {T.synth_pii_sql()} AS planted, "
        f"{T.redact_pii_extended_sql(T.synth_pii_sql())} AS red "
        "FROM documents ORDER BY doc_id"
    ).fetchdf()
    assert sp["planted"].tolist() == du["planted"].tolist()
    assert sp["red"].tolist() == du["red"].tolist()
    for d, red in zip(sp["doc_id"], sp["red"]):
        assert ("<CC>" in red) == (d % 2 == 0), d
        assert "<IP>" in red, d


def test_nb_recovers_planted_classes(spark):
    """Two classes with disjoint vocab: NB must classify every doc to
    its own class; scores match an independent Python recompute."""
    import math

    from timebox_spark.operators import text as T

    rows = [
        (0, "alpha beta alpha gamma", "A"),
        (1, "beta alpha alpha beta", "A"),
        (2, "delta epsilon zeta", "B"),
        (3, "zeta zeta epsilon delta", "B"),
        (4, "alpha beta gamma gamma", "A"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    w, c = T.nb_train(df)
    got = {r["doc_id"]: r for r in T.nb_classify(df, w, c).collect()}
    truth = {i: s for i, _, s in rows}
    assert {d: r["pred_label"] for d, r in got.items()} == truth

    # independent recompute of doc 0's argmax score
    toks = {i: t.split() for i, t, _ in rows}
    labels = {i: s for i, _, s in rows}
    vocab = {t for x in toks.values() for t in x}
    V = len(vocab)
    cnt: dict = {}
    tot: dict = {}
    for i, x in toks.items():
        for t in x:
            cnt[(labels[i], t)] = cnt.get((labels[i], t), 0) + 1
            tot[labels[i]] = tot.get(labels[i], 0) + 1
    nd = {"A": 3, "B": 2}
    S = T.NB_SCALE

    def q(x: float) -> int:
        return math.floor(x * S + 0.5)

    def score(i: int, lab: str) -> int:
        s = q(math.log(nd[lab] / 5.0))
        for t in toks[i]:
            if (lab, t) in cnt:
                s += q(math.log((cnt[(lab, t)] + 1) / (tot[lab] + V)))
            else:
                s += q(math.log(1.0 / (tot[lab] + V)))
        return s

    for i in toks:
        want = max(
            (score(i, lab), lab) for lab in ("A", "B")
        )
        # max() picks lexicographically LAST label on ties; NB breaks
        # ties to the FIRST. No ties here by construction.
        assert got[i]["score_q"] == want[0], i
        assert got[i]["pred_label"] == want[1], i


def test_nb_empty_doc_gets_prior_argmax(spark):
    """A zero-token doc scores prior_q only — argmax is the most
    frequent class, ties to the alphabetically-first label."""
    from timebox_spark.operators import text as T

    rows = [
        (0, "x y", "B"),
        (1, "p q", "A"),
        (2, "", "A"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    w, c = T.nb_train(df)
    got = {r["doc_id"]: r for r in T.nb_classify(df, w, c).collect()}
    assert got[2]["n_tokens"] == 0
    assert got[2]["pred_label"] == "A"  # prior 2/3 beats 1/3


def test_nb_vocab_pruning_bounds_weight_table(spark):
    """min_count / max_vocab bound the weight table by construction
    (the fastText/CCNet norm); pruned tokens are scored as OOV and V
    in the smoothing denominator is the PRUNED vocab size. Pinned
    against an independent Python recompute over the pruned vocab."""
    import math

    from timebox_spark.operators import text as T

    rows = [
        (0, "alpha alpha beta rare1", "A"),
        (1, "beta alpha alpha", "A"),
        (2, "delta delta epsilon rare2", "B"),
        (3, "epsilon delta", "B"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")

    # min_count=2 drops the two singleton tokens from weights entirely
    w, c = T.nb_train(df, min_count=2)
    kept = {r["t"] for r in w.select("t").distinct().collect()}
    assert kept == {"alpha", "beta", "delta", "epsilon"}

    # independent recompute: V=4 (pruned), counts over kept tokens
    # only, n_l over kept tokens only; rare* score as OOV
    toks = {i: t.split() for i, t, _ in rows}
    labels = {i: s for i, _, s in rows}
    cnt: dict = {}
    tot: dict = {}
    for i, x in toks.items():
        for t in x:
            if t in kept:
                cnt[(labels[i], t)] = cnt.get((labels[i], t), 0) + 1
                tot[labels[i]] = tot.get(labels[i], 0) + 1
    V = len(kept)
    S = T.NB_SCALE

    def q(x: float) -> int:
        return math.floor(x * S + 0.5)

    def score(i: int, lab: str) -> int:
        s = q(math.log(2 / 4.0))  # both priors 2/4
        for t in toks[i]:
            if (lab, t) in cnt:
                s += q(math.log((cnt[(lab, t)] + 1) / (tot[lab] + V)))
            else:
                s += q(math.log(1.0 / (tot[lab] + V)))
        return s

    got = {r["doc_id"]: r for r in T.nb_classify(df, w, c).collect()}
    for i in toks:
        want_score, want_lab = max(
            (score(i, lab), lab) for lab in ("A", "B")
        )
        assert got[i]["score_q"] == want_score, i
        assert got[i]["pred_label"] == want_lab, i

    # max_vocab=2 keeps the two globally-most-frequent tokens
    # (alpha:4, delta:3; beta:2/epsilon:2 lose)
    w2, _ = T.nb_train(df, max_vocab=2)
    assert {r["t"] for r in w2.select("t").distinct().collect()} == {
        "alpha",
        "delta",
    }


def test_c4_clean_hand_cases(spark):
    """Every C4 line rule on a hand-built page: terminal punct, the
    five-word floor, the javascript drop; page gates: sentence floor,
    blocklist, lorem ipsum, curly brace (Raffel et al. 2020 §2.2)."""
    page = "\n".join(
        [
            "This first sentence clearly has enough words.",
            "Click here",  # no terminal punct -> dropped
            "Short line here.",  # 3 words -> dropped
            'He said "stop right there friend!"',  # ends in quote -> kept
            "Enable JavaScript to view this content.",  # js -> dropped
            "Another perfectly reasonable sentence ends here.",
        ]
    )
    df = spark.createDataFrame([(1, page)], "id long, t string")
    out = df.select(
        text.c4_clean(F.col("t")).alias("c"),
    ).collect()[0]
    kept = out["c"].split("\n")
    assert kept == [
        "This first sentence clearly has enough words.",
        'He said "stop right there friend!"',
        "Another perfectly reasonable sentence ends here.",
    ]

    def gate(orig):
        d = spark.createDataFrame([(orig,)], "t string")
        return d.select(
            text.c4_doc_pass(F.col("t"), text.c4_clean(F.col("t"))).alias("p")
        ).collect()[0]["p"]

    three = (
        "One full sentence right here now.\n"
        "Two full sentences right here now.\n"
        "Three full sentences right here now."
    )
    assert gate(three) == 1
    # only two sentences survive the line filter -> fails the floor
    assert gate("\n".join(three.split("\n")[:2])) == 0
    assert gate(three + "\nAlso mentions obscenityx in passing okay.") == 0
    assert gate(three + "\nThis has Lorem Ipsum filler text inside.") == 0
    assert gate(three + "\nvar f = function() { return 1; };") == 0


def test_c4_synth_page_matches_duckdb(spark, duck):
    """The q20 c4_fp/c4_pass columns: synth page -> line filter ->
    page gate, bit-for-bit across engines at sf0.001."""
    from timebox_spark.plans.tables import load
    from tests.conftest import SF_SMOKE

    docs = load(spark, SF_SMOKE, "documents")
    page = text.synth_page()
    cleaned = text.c4_clean(page)
    sdf = (
        docs.select(
            "doc_id",
            F.md5(F.encode(cleaned, "UTF-8")).alias("c4_fp"),
            text.c4_doc_pass(page, cleaned).alias("c4_pass"),
        )
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    page_sql = text.synth_page_sql()
    cleaned_sql = text.c4_clean_sql(page_sql)
    ddf = (
        duck.execute(
            f"""SELECT doc_id, md5({cleaned_sql}) AS c4_fp,
                   {text.c4_doc_pass_sql(page_sql, cleaned_sql)} AS c4_pass
            FROM documents"""
        )
        .fetchdf()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(
        sdf.astype({"doc_id": "int64", "c4_pass": "int64"}),
        ddf.astype({"doc_id": "int64", "c4_pass": "int64"}),
    )
    # both branches of every rule fire somewhere in the corpus
    assert 0 < sdf.c4_pass.sum() < len(sdf)


def test_token_id_export_roundtrip_and_vocab(spark, tmp_path):
    """Round-8 verdict task 9: build_vocab assigns contiguous ids by
    (count desc, token asc); tokens_to_ids maps OOV to TOKID_UNK and
    preserves exact sequence order; export_token_shards round-trips
    the array<long> sequences through sharded parquet losslessly."""
    import hashlib

    from timebox_spark.operators import text as T

    rows = [
        (0, "the cat sat on the mat"),
        (1, "the dog sat"),
        (2, ""),
        (3, "unseen zebra the"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    vocab = T.build_vocab(df, max_vocab=4)
    got_v = {r["t"]: (r["id"], r["n"]) for r in vocab.collect()}
    # counts: the=4, sat=2, cat/dog/mat/on/unseen/zebra=1 → top-4 by
    # (count desc, token asc): the(1), sat(2), cat(3), dog(4)
    assert got_v == {"the": (1, 4), "sat": (2, 2), "cat": (3, 1), "dog": (4, 1)}

    seqs = {r["doc_id"]: r for r in T.tokens_to_ids(df, vocab).collect()}
    assert list(seqs[0]["ids"]) == [1, 3, 2, 0, 1, 0]  # on/mat → UNK
    assert list(seqs[1]["ids"]) == [1, 4, 2]
    assert list(seqs[2]["ids"]) == [] and seqs[2]["n_tokens"] == 0
    assert seqs[3]["n_oov"] == 2 and list(seqs[3]["ids"]) == [0, 0, 1]

    # digest pins OOV positions too (id 0 contributes via the +1)
    dg = {r["doc_id"]: r["dg"] for r in T.token_id_digest(
        T.tokens_to_ids(df, vocab)).collect()}
    p, q = T._TOKID_P, T._TOKID_Q
    want0 = sum(((i + 1) % p) * ((pos + 1) % p) % q
                for pos, i in enumerate([1, 3, 2, 0, 1, 0]))
    assert dg[0] == want0 and dg[2] == 0

    path = str(tmp_path / "tok_shards")
    back = T.export_token_shards(df, vocab, path, n_shards=2)
    got = {r["doc_id"]: (list(r["ids"]), r["shard"]) for r in back.collect()}
    assert {d: ids for d, (ids, _) in got.items()} == {
        d: list(seqs[d]["ids"]) for d in seqs
    }
    for d, (_, shard) in got.items():
        want_shard = int(hashlib.md5(str(d).encode()).hexdigest()[:8], 16) % 2
        assert shard == want_shard, d


def test_tokens_to_ids_is_jvm_only(spark):
    """Round-9 verdict task 1a: the id lookup is a map-literal probe
    inside whole-stage codegen — ZERO Python in the executed plan (the
    old Arrow kernel looped per token in Python, the round-9 weak)."""
    from timebox_spark.operators import text as T

    df = spark.createDataFrame(
        [(0, "a b a"), (1, "c")], "doc_id long, text string"
    )
    seqs = T.tokens_to_ids(df, T.build_vocab(df))
    plan = seqs._jdf.queryExecution().executedPlan().toString()
    for marker in ("mapInPandas", "Python", "ArrowEval", "BatchEval"):
        assert marker not in plan, plan


def test_export_packed_shards_roundtrip(spark, tmp_path):
    """The packed training set survives the parquet round trip: the
    read-back rows equal pack_token_rows' in-memory result, every
    shard is its own partition directory, and BPE ids flow through
    export_token_shards' tokens passthrough."""
    from timebox_spark.operators import text as T
    from timebox_spark.operators.sampling import (
        export_packed_shards,
        pack_token_rows,
    )

    df = spark.createDataFrame(
        [(i, f"doc {i} body " + "word " * (i % 7)) for i in range(12)],
        "doc_id long, text string",
    )
    vocab = T.build_vocab(df)
    seqs = T.tokens_to_ids(df, vocab)
    want = {
        (r["shard"], r["pack"]): list(r["ids"])
        for r in pack_token_rows(seqs, budget=8, n_shards=2).collect()
    }
    path = str(tmp_path / "packed")
    back = export_packed_shards(seqs, path, budget=8, n_shards=2)
    got = {
        (r["shard"], r["pack"]): list(r["ids"]) for r in back.collect()
    }
    assert got == want

    import os

    assert sorted(
        n for n in os.listdir(path) if n.startswith("shard=")
    ) == ["shard=0", "shard=1"]

    # BPE passthrough on the per-doc shard exporter
    merges, _ = T.bpe_train(df, n_merges=2)
    btoks = T.apply_bpe("text", merges)
    bvocab = T.build_vocab(df, tokens=btoks)
    out = T.export_token_shards(
        df, bvocab, str(tmp_path / "bpe_shards"), n_shards=2, tokens=btoks
    )
    bwant = {r["doc_id"]: list(r["ids"])
             for r in T.tokens_to_ids(df, bvocab, tokens=btoks).collect()}
    assert {r["doc_id"]: list(r["ids"]) for r in out.collect()} == bwant


def test_tokens_to_ids_join_path_equals_literal_path(spark):
    """The broadcast-join strategy (production-size vocabs above the
    literal threshold) produces bit-identical sequences to the
    plan-literal probe — including OOV mapping, empty docs, and
    within-doc order."""
    from timebox_spark.operators import text as T

    rows = [
        (0, "the cat sat on the mat"),
        (1, "the dog sat"),
        (2, ""),
        (3, "unseen zebra the"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    vocab = T.build_vocab(df, max_vocab=4)
    lit = {r["doc_id"]: (list(r["ids"]), r["n_tokens"], r["n_oov"])
           for r in T.tokens_to_ids(df, vocab).collect()}
    jn = {r["doc_id"]: (list(r["ids"]), r["n_tokens"], r["n_oov"])
          for r in T.tokens_to_ids(df, vocab, literal_max=0).collect()}
    assert jn == lit
    assert jn[2] == ([], 0, 0)
    assert jn[3][2] == 2  # OOV accounting survives the join path


def test_tokenizer_save_load_roundtrip(spark, tmp_path):
    """The tokenizer artifact (merges + vocab manifest) round-trips
    through JSON: loaded merges tokenize identically and the loaded
    vocab produces bit-identical id sequences."""
    from timebox_spark.operators import text as T

    df = spark.createDataFrame(
        [(0, "low lower lowest"), (1, "low low newest")],
        "doc_id long, text string",
    )
    merges, _ = T.bpe_train(df, n_merges=3)
    btoks = T.apply_bpe("text", merges)
    vocab = T.build_vocab(df, tokens=btoks)
    want = {r["doc_id"]: list(r["ids"])
            for r in T.tokens_to_ids(df, vocab, tokens=btoks).collect()}

    path = str(tmp_path / "tok" / "tokenizer.json")
    T.save_tokenizer(merges, vocab, path)
    merges2, vocab2 = T.load_tokenizer(spark, path)
    assert merges2 == merges
    btoks2 = T.apply_bpe("text", merges2)
    got = {r["doc_id"]: list(r["ids"])
           for r in T.tokens_to_ids(df, vocab2, tokens=btoks2).collect()}
    assert got == want


def test_tokens_to_ids_bpe_composition(spark):
    """Round-9 verdict task 1b: apply_bpe output feeds build_vocab /
    tokens_to_ids via the ``tokens`` parameter — BPE sub-word ids
    export through the same path, OOV accounting included."""
    from timebox_spark.operators import text as T

    df = spark.createDataFrame(
        [(0, "low lower lowest"), (1, "low low newest")],
        "doc_id long, text string",
    )
    merges, _ = T.bpe_train(df, n_merges=3)
    assert merges, "trainer must learn at least one merge"
    btoks = T.apply_bpe("text", merges)
    vocab = T.build_vocab(df, tokens=btoks)
    seqs = T.tokens_to_ids(df, vocab, tokens=btoks)

    # independent Python mirror of greedy BPE application
    def bpe_word(w):
        syms = list(w)
        for a, b, _ in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    texts = {0: "low lower lowest", 1: "low low newest"}
    toks = {d: [s for w in t.split() for s in bpe_word(w)]
            for d, t in texts.items()}
    counts: dict[str, int] = {}
    for ts in toks.values():
        for t in ts:
            counts[t] = counts.get(t, 0) + 1
    ranked = sorted(counts, key=lambda t: (-counts[t], t))
    ids = {t: i + 1 for i, t in enumerate(ranked[: T.VOCAB_EXPORT_MAX])}
    want = {d: [ids.get(t, 0) for t in ts] for d, ts in toks.items()}

    got = {r["doc_id"]: list(r["ids"]) for r in seqs.collect()}
    assert got == want


def test_curate_rank_gate_keeps_high_rank_domains(spark):
    """Round-15 verdict task 2: curate(rank_gate=(ranks, min)) keeps
    exactly the docs whose registrable domain clears the bar; absent
    domains rank 0; the gate composes with the other filters and
    curate_to_shards forwards it."""
    import pytest

    from timebox_spark.operators import pipeline

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again",
             "http://www.good.com/a"),
            (2, "the quick brown fox jumps over the lazy dog once more today",
             "https://news.good.com/b"),
            (3, "the quick brown fox jumps over the lazy dog in the meadow",
             "http://bad.org/c"),
            (4, "the quick brown fox jumps over the lazy dog by the river",
             "http://unranked.net/d"),
        ],
        "doc_id long, text string, url string",
    )
    ranks = spark.createDataFrame(
        [("good.com", 100), ("bad.org", 5)], "node string, rank long"
    )
    out = pipeline.curate(
        docs, langs=("en",), min_quality_q=0, min_tokens=3,
        url_col="url", rank_gate=(ranks, 10),
    )
    assert {r["doc_id"] for r in out.collect()} == {1, 2}
    # min_rank 0 admits unranked domains too (coalesce-0 semantics)
    out0 = pipeline.curate(
        docs, langs=("en",), min_quality_q=0, min_tokens=3,
        url_col="url", rank_gate=(ranks, 0),
    )
    assert {r["doc_id"] for r in out0.collect()} == {1, 2, 3, 4}
    # rank_gate without url_col is a loud error
    with pytest.raises(ValueError, match="url_col"):
        pipeline.curate(docs, rank_gate=(ranks, 10))
    # no-gate output columns are unchanged (driver schema contract)
    plain = pipeline.curate(docs, langs=("en",), min_quality_q=0,
                            min_tokens=3)
    assert plain.columns == out.columns


def test_cap_per_group_cms_enforces_corpus_horizon_budget(spark):
    """Round-15 verdict task 8: a stream of cycles whose PER-CYCLE
    counts all pass the exact cap must still end within the cap when
    capped against the merged historical sketch — and the admitted
    prefix is the deterministic smallest-key one. CMS est >= true, so
    the cumulative total can never exceed the budget."""
    from timebox_spark.operators import sampling as S
    from timebox_spark.operators import sketches as SK

    W, D, CAP = 256, 4, 6

    def cycle(cid):
        # 4 hot-domain rows + 1 rare-domain row per cycle
        rows = [(cid * 10 + j, "hot.com") for j in range(4)]
        rows.append((cid * 10 + 9, f"rare{cid}.org"))
        return spark.createDataFrame(rows, "doc_id long, source string")

    sketch = None
    admitted = []
    for cid in range(3):
        batch = cycle(cid)
        kept = S.cap_per_group(
            batch, "source", "doc_id", CAP,
            cms=sketch, cms_width=W, cms_depth=D,
        )
        rows = kept.collect()
        admitted.extend((r["doc_id"], r["source"]) for r in rows)
        newly = SK.cms_build(
            spark.createDataFrame(rows, batch.schema).select("source"),
            "source", width=W, depth=D,
        )
        sketch = (
            newly if sketch is None
            else SK.cms_merge(sketch.unionByName(newly))
        )
        # materialize the sketch so the loop's plan doesn't grow
        sketch = spark.createDataFrame(sketch.collect(), sketch.schema)
    hot = [d for d, s in admitted if s == "hot.com"]
    # cycle 0: est 0 -> 4 admitted; cycle 1: est 4 -> 2; cycle 2: 0
    assert sorted(hot) == [0, 1, 2, 3, 10, 11], sorted(hot)
    # rare domains never hit the cap
    assert sum(1 for _, s in admitted if s != "hot.com") == 3
    # per-cycle exact capping alone would have admitted 12 hot rows
    plain = S.cap_per_group(cycle(2), "source", "doc_id", CAP)
    assert plain.filter("source = 'hot.com'").count() == 4


def test_token_budget_cms_enforces_corpus_horizon_token_budget(spark):
    """Round-16: token-denominated corpus-horizon budgets — a stream
    of cycles each within the per-cycle token budget must still end
    within it cumulatively when budgeted against the merged WEIGHTED
    sketch; the weighted CMS never under-counts, so the token total
    can never exceed the budget."""
    from timebox_spark.operators import sampling as S
    from timebox_spark.operators import sketches as SK

    W, D, BUDGET = 256, 4, 100

    def cycle(cid):
        rows = [(cid * 10 + j, "hot", 30) for j in range(4)]
        rows.append((cid * 10 + 9, f"rare{cid}", 30))
        return spark.createDataFrame(
            rows, "doc_id long, source string, nt long"
        )

    sketch, admitted = None, []
    for cid in range(3):
        batch = cycle(cid)
        kept = S.token_budget_per_group(
            batch, "source", "nt", BUDGET, key="doc_id",
            cms=sketch, cms_width=W, cms_depth=D,
        )
        rows = kept.collect()
        admitted.extend((r["doc_id"], r["source"], r["nt"]) for r in rows)
        newly = SK.cms_build(
            spark.createDataFrame(rows, batch.schema),
            "source", width=W, depth=D, weight="nt",
        )
        sketch = (
            newly if sketch is None
            else SK.cms_merge(sketch.unionByName(newly))
        )
        sketch = spark.createDataFrame(sketch.collect(), sketch.schema)
    hot_tokens = sum(nt for _, s, nt in admitted if s == "hot")
    assert hot_tokens <= BUDGET
    # cycle 0: prior 0 -> cum<=100 admits 3 of 4 rows (90 tokens);
    # cycle 1: prior 90 -> allowance 10 < 30 -> none; cycle 2: none
    assert sorted(d for d, s, _ in admitted if s == "hot") == [0, 1, 2]
    # rare sources never hit their budget
    assert sum(1 for _, s, _ in admitted if s != "hot") == 3
    # per-cycle exact budgeting alone would re-admit 3 hot rows/cycle
    plain = S.token_budget_per_group(cycle(2), "source", "nt", BUDGET)
    assert plain.filter("source = 'hot'").count() == 3


def test_cms_build_weighted_never_undercounts_and_matches_repeats(spark):
    """Round-16 weighted CMS: estimates never under-count the true
    weighted totals; NULL weights add 0; NULL keys are skipped; the
    weighted sketch equals the count sketch of weight-fold repeated
    rows cell-for-cell (so merge/query semantics carry over)."""
    from timebox_spark.operators import sketches as SK

    W, D = 64, 4
    df = spark.createDataFrame(
        [(1, "a", 5), (2, "a", 7), (3, "b", 1), (4, "b", None),
         (5, None, 9)],
        "id long, k string, w int",
    )
    wsk = SK.cms_build(df, "k", width=W, depth=D, weight="w")
    probe = spark.createDataFrame([("a",), ("b",)], "k string")
    est = {
        r["k"]: r["est_count"]
        for r in SK.cms_query(
            probe, "k", "k", wsk, width=W, depth=D
        ).collect()
    }
    assert est["a"] >= 12 and est["b"] >= 1
    rep = spark.createDataFrame(
        [(x,) for x in ["a"] * 12 + ["b"] * 1], "k string"
    )
    csk = SK.cms_build(rep, "k", width=W, depth=D)
    data = lambda s: sorted(map(tuple, s.filter("row >= 0").collect()))
    assert data(wsk) == data(csk)
    # the weightedness sentinel keeps the modes apart: a raw union of
    # a count and a weighted sketch refuses to merge or be classified
    assert SK._cms_stats_mode(wsk, W, D, "t") is True
    assert SK._cms_stats_mode(csk, W, D, "t") is False
    import pytest as _pytest
    from pyspark.errors import PySparkException

    with _pytest.raises(ValueError, match="mix"):
        SK._cms_stats_mode(wsk.unionByName(csk), W, D, "t")
    with _pytest.raises(PySparkException, match="conflicting"):
        SK.cms_merge(wsk.unionByName(csk)).collect()


def test_curate_near_dup_stage_drops_near_copies(spark):
    """Round-15: curate(near_dup_threshold=) — the one-call batch
    pipeline's near-dedup stage. A doc that is a near (not exact)
    copy of a smaller-id survivor is dropped; unrelated docs and the
    cluster representative survive; exact-dup semantics unchanged."""
    from timebox_spark.operators import pipeline

    base = ("the quick brown fox jumps over the lazy dog while the "
            "rain in spain falls mainly on the plain tonight")
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " ok"),                      # near copy of 1
            (3, base),                              # exact copy of 1
            (4, "completely different text about gardens and stone "
                "walls with many unrelated words in a long sentence"),
        ],
        "doc_id long, text string",
    )
    out = pipeline.curate(
        docs, langs=("en",), min_quality_q=0, min_tokens=3,
        near_dup_threshold=0.5,
    )
    assert {r["doc_id"] for r in out.collect()} == {1, 4}
    # without the stage, the near copy survives (exact dedup only)
    plain = pipeline.curate(
        docs, langs=("en",), min_quality_q=0, min_tokens=3,
    )
    assert {r["doc_id"] for r in plain.collect()} == {1, 2, 4}


def test_curate_near_dup_method_portable_matches_fast_path(spark):
    """Round-16: near_dup_method='portable' (the md5 family the q54
    'near' oracle recomputes) keeps the same doc set as the default
    xxhash64 fast path on a corpus whose near-pairs are unambiguous —
    same algorithm, different hash family. Also pins the invalid-
    method raise."""
    import pytest as _pytest

    from timebox_spark.operators import pipeline

    base = ("the quick brown fox jumps over the lazy dog while the "
            "rain in spain falls mainly on the plain tonight")
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " ok"),  # near copy of 1
            (4, "completely different text about gardens and stone "
                "walls with many unrelated words in a long sentence"),
        ],
        "doc_id long, text string",
    )
    kw = dict(langs=("en",), min_quality_q=0, min_tokens=3,
              near_dup_threshold=0.5)
    fast = pipeline.curate(docs, **kw)
    portable = pipeline.curate(
        docs, near_dup_method="portable",
        near_dup_kwargs=dict(num_perm=32, bands=8), **kw,
    )
    assert (
        {r["doc_id"] for r in fast.collect()}
        == {r["doc_id"] for r in portable.collect()}
        == {1, 4}
    )
    with _pytest.raises(ValueError, match="near_dup_method"):
        pipeline.curate(docs, near_dup_method="nope", **kw).collect()


def test_curate_soft_dedup_reweights_instead_of_dropping(spark):
    """Round-16: curate(soft_dedup=True) keeps every gated doc and
    assigns exact integer duplicate weights — QUANT div fp-group-size
    per normalized-text group; unique docs keep full weight; the
    keep-one path is unchanged; combining with near_dup_threshold
    raises."""
    import pytest as _pytest

    from timebox_spark.operators import pipeline
    from timebox_spark.operators.dedup import DUP_WEIGHT_QUANT

    base = ("the quick brown fox jumps over the lazy dog while the "
            "rain in spain falls mainly on the plain tonight")
    docs = spark.createDataFrame(
        [
            (1, base),
            (3, base),                       # exact copy of 1
            (5, base.replace(" ", "  ")),    # whitespace folds -> copy too
            (4, "completely different text about gardens and stone "
                "walls with many unrelated words in a long sentence"),
        ],
        "doc_id long, text string",
    )
    out = pipeline.curate(
        docs, langs=("en",), min_quality_q=0, min_tokens=3,
        soft_dedup=True,
    )
    got = {r["doc_id"]: r["weight_q"] for r in out.collect()}
    third = DUP_WEIGHT_QUANT // 3
    assert got == {1: third, 3: third, 5: third, 4: DUP_WEIGHT_QUANT}
    assert "weight_q" in out.columns and "split" in out.columns
    with _pytest.raises(ValueError, match="soft_dedup"):
        pipeline.curate(
            docs, langs=("en",), min_quality_q=0, min_tokens=3,
            soft_dedup=True, near_dup_threshold=0.5,
        )
