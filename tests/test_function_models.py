"""Model-based property tests: the engine's scalar expression library vs
independent pure-Python models over seeded random inputs (one Spark job
per test, thousands of cases per job — property coverage without
per-example session overhead).
"""

from __future__ import annotations

import datetime
import random
import string

import pytest

from pyspark.sql import functions as F

from conftest import PARITY_SF_DIR

from film_media_etl_spark.functions.dates import smart_date_key, week_of_year_noniso
from film_media_etl_spark.functions.text import (
    FINGERPRINT_MOD,
    adjacent_pairs,
    fingerprint,
    ngrams,
    shingles,
    token_count,
    tokens,
    top_run,
)

SEED = 42
N = 2000


def _random_dates(n: int) -> list[datetime.date]:
    rng = random.Random(SEED)
    lo = datetime.date(1990, 1, 1).toordinal()
    hi = datetime.date(2035, 12, 31).toordinal()
    return [datetime.date.fromordinal(rng.randint(lo, hi)) for _ in range(n)]


def test_week_noniso_matches_model(spark):
    """week = ((dayofyear - 1) // 7) + 1 for every date — lubridate
    semantics (` loadAnalyticsDB...R`:103), 46 years of random dates."""
    dates = _random_dates(N)
    df = spark.createDataFrame([(d,) for d in dates], "d date")
    got = {r["d"]: r["w"] for r in df.select("d", week_of_year_noniso(F.col("d")).alias("w")).collect()}
    for d in dates:
        doy = (d - datetime.date(d.year, 1, 1)).days + 1
        assert got[d] == ((doy - 1) // 7) + 1, d


def test_smart_date_key_matches_model(spark):
    dates = _random_dates(N)
    df = spark.createDataFrame([(d,) for d in dates], "d date")
    got = {r["d"]: r["k"] for r in df.select("d", smart_date_key(F.col("d")).alias("k")).collect()}
    for d in dates:
        assert got[d] == d.year * 10000 + d.month * 100 + d.day, d


def _random_texts(n: int) -> list[str]:
    rng = random.Random(SEED)
    alphabet = string.ascii_lowercase + string.digits + " .,!?'"
    return ["".join(rng.choice(alphabet) for _ in range(rng.randint(1, 80))) for _ in range(n)]


def test_fingerprint_matches_model(spark):
    """Polynomial rolling hash: fold (acc*31 + ascii(ch)) % (1e9+7)."""
    texts = _random_texts(N)
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    got = {r["i"]: r["fp"] for r in df.select("i", fingerprint(F.col("t")).alias("fp")).collect()}
    for i, t in enumerate(texts):
        acc = 0
        for ch in t:
            acc = (acc * 31 + ord(ch)) % FINGERPRINT_MOD
        assert got[i] == acc, repr(t)


def test_token_count_matches_model(spark):
    """Single-space split, empty tokens preserved (cross-engine contract)."""
    texts = _random_texts(N)
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    got = {r["i"]: r["n"] for r in df.select("i", token_count(F.col("t")).alias("n")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == len(t.lower().split(" ")), repr(t)


def test_ngram_helpers_match_python_model(spark):
    """functions/text.ngrams (and its position form in
    repetition_signals._rep_arrays), shingles, adjacent_pairs and top_run
    against plain-Python models: NULL, "", one token, a double space,
    repeated grams and seeded random word sequences."""
    from film_media_etl_spark.queries.repetition_signals import _rep_arrays

    rng = random.Random(SEED)
    texts = [None, "", "one", "a  b", "a b a b a b", "x y x y z x y", "B a b A b a c"]
    texts += [" ".join(rng.choice("abc") for _ in range(rng.randint(1, 14))) for _ in range(200)]
    df = spark.createDataFrame(list(enumerate(texts)), "i long, text string").select(
        "i", tokens("text").alias("toks")
    )
    rows = {
        r["i"]: r
        for r in df.select(
            "i",
            *[ngrams("toks", n).alias(f"n{n}") for n in (2, 3, 5)],
            *[shingles(F.col("toks"), n).alias(f"sh{n}") for n in (2, 3)],
            _rep_arrays(F.col("toks")).alias("ra"),
            top_run(F.sort_array(ngrams("toks", 2))).alias("tr"),
        ).collect()
    }

    def grams(toks, n):
        return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]

    def run_model(srt):
        best, value, i = 0, None, 0
        while i < len(srt):
            j = i
            while j < len(srt) and srt[j] == srt[i]:
                j += 1
            if j - i > best:
                best, value = j - i, srt[i]
            i = j
        return best, value

    for i, text in enumerate(texts):
        toks = [] if text is None else text.lower().split(" ")
        r = rows[i]
        for n in (2, 3, 5):
            assert r[f"n{n}"] == grams(toks, n), (text, n)
        for n in (2, 3):
            assert r[f"sh{n}"] == list(dict.fromkeys(grams(toks, n))), (text, n)
        for n in (2, 3, 4):
            assert r["ra"][f"g{n}"] == sorted(grams(toks, n)), (text, n)
        for n in (5, 6, 7, 8, 9, 10):
            pos = sorted((g, p + 1) for p, g in enumerate(grams(toks, n)))
            assert [tuple(x) for x in r["ra"][f"s{n}"]] == pos, (text, n)
        assert tuple(r["tr"]) == run_model(sorted(grams(toks, 2))), text

    arrs = [None, [], [7], [1, 2], [3, 1, 4, 1, 5, 9, 2, 6]]
    got = [
        r["p"]
        for r in spark.createDataFrame([(i, a) for i, a in enumerate(arrs)], "i int, a array<int>")
        .orderBy("i")
        .select(adjacent_pairs("a", lambda x, y: x * 10 + y).alias("p"))
        .collect()
    ]
    assert got == [None] + [[x * 10 + y for x, y in zip(a, a[1:])] for a in arrs[1:]]

    # tie order: equal-length runs keep the earliest (smallest) element
    runs = [[], ["b"], ["a", "b"], ["a", "a", "b", "b"], ["a", "b", "b", "c", "c"], [" ", " ", "x"]]
    got = [
        tuple(r["tr"])
        for r in spark.createDataFrame([(i, a) for i, a in enumerate(runs)], "i int, a array<string>")
        .orderBy("i")
        .select(top_run("a").alias("tr"))
        .collect()
    ]
    assert got == [(0, None), (1, "b"), (1, "a"), (2, "a"), (2, "b"), (2, " ")]
    assert got == [run_model(a) for a in runs]


def test_global_index_matches_row_number_model(spark):
    """_global_index == ROW_NUMBER() OVER (ORDER BY ...) for arbitrary
    skewed key distributions, with stats collected from the full frame
    or from a key-only projection — including duplicate full rows and
    empty buckets."""
    from pyspark.sql import Window

    from film_media_etl_spark.etl.star import _global_index, prepare_global_index

    rng = random.Random(SEED)
    rows = []
    for _ in range(N):
        # heavy skew + gaps: most keys in [0,50], spikes near 10_000
        k = rng.choice([rng.randint(0, 50), rng.randint(0, 50), 10_000 + rng.randint(0, 5)])
        rows.append((k, rng.randint(0, 9), rng.choice("abc")))
    rows += rows[:25]  # exact duplicate rows must still index densely
    df = spark.createDataFrame(rows, ["k", "sub", "tag"])
    order = ["k", "sub", "tag"]

    got = {
        tuple(r[:3]): r[3]
        for r in _global_index(
            df, order, "k", prepare_global_index(df, "k", nbuckets=7), out_col="idx"
        )
        .groupBy("k", "sub", "tag")
        .agg(F.sort_array(F.collect_list("idx")).alias("idxs"))
        .select("k", "sub", "tag", "idxs")
        .collect()
    }
    w = Window.orderBy(*order)
    want = {
        tuple(r[:3]): r[3]
        for r in df.withColumn("idx", F.row_number().over(w).cast("long"))
        .groupBy("k", "sub", "tag")
        .agg(F.sort_array(F.collect_list("idx")).alias("idxs"))
        .collect()
    }
    assert got == want

    # narrow stats: same distribution given as a key-only frame
    stats = prepare_global_index(df.select("k"), "k", nbuckets=7)
    got2 = (
        _global_index(df, order, "k", stats, out_col="idx")
        .agg(F.min("idx"), F.max("idx"), F.count_distinct("idx"))
        .first()
    )
    n = df.count()
    assert tuple(got2) == (1, n, n) and stats[3] == n


def test_global_index_invariant_to_nbuckets(spark):
    """The cluster-scale knob must not change results: nbuckets only
    splits the sort for parallelism, so nbuckets=509 (prime, way more
    buckets than distinct keys in some ranges -> many empties) must
    reproduce the nbuckets=64 index bit-identically."""
    import random

    from film_media_etl_spark.etl.star import _global_index, prepare_global_index

    rng = random.Random(20260814)
    rows = [
        (rng.choice([rng.randint(0, 80), 50_000 + rng.randint(0, 9)]),
         rng.randint(0, 4))
        for _ in range(4000)
    ]
    rows += rows[:40]  # duplicates exercise the tie path across variants
    df = spark.createDataFrame(rows, ["k", "sub"])
    order = ["k", "sub"]

    def index_with(nb):
        return sorted(
            (r["k"], r["sub"], r["idx"])
            for r in _global_index(
                df, order, "k", prepare_global_index(df, "k", nbuckets=nb), out_col="idx"
            ).collect()
        )

    assert index_with(509) == index_with(64)


def test_prepare_global_index_empty_input(spark):
    """Empty stats (min/max NULL) must not raise — reachable from
    build_star's thread-pooled fact-stats future where a TypeError
    surfaces only at .result()."""
    from film_media_etl_spark.etl.star import _global_index, prepare_global_index

    empty = spark.range(0).select(F.col("id").alias("k"))
    assert prepare_global_index(empty, "k") == (0, 1, {}, 0)
    out = _global_index(empty, ["k"], "k", prepare_global_index(empty, "k"), out_col="idx")
    assert out.columns == ["k", "idx"] and out.count() == 0


def test_global_index_null_leading_key_keeps_row(spark):
    """A NULL leading key is a contract violation that must degrade
    visibly, not silently: the row is kept with a NULL index, and the
    non-NULL rows still index densely from 1 (NULLs are not counted)."""
    from film_media_etl_spark.etl.star import _global_index, prepare_global_index

    df = spark.createDataFrame(
        [(3, "a"), (None, "b"), (1, "c"), (None, "d"), (2, "e")], "k long, v string"
    )
    stats = prepare_global_index(df, "k", nbuckets=2)
    assert stats[3] == 3
    got = {r["v"]: r["idx"] for r in _global_index(df, ["k", "v"], "k", stats, out_col="idx").collect()}
    assert got == {"a": 3, "b": None, "c": 1, "d": None, "e": 2}

    nulls = df.where(F.col("k").isNull())
    null_stats = prepare_global_index(nulls, "k")
    assert null_stats == (0, 1, {}, 0)
    out = _global_index(nulls, ["k", "v"], "k", null_stats, out_col="idx").collect()
    assert len(out) == 2 and all(r["idx"] is None for r in out)


def test_prepare_global_index_many_keys_equals_per_key_calls(spark):
    """One multi-key prepare_global_index call returns exactly what a
    call per key returns — an empty frame, a NULL leading key and a
    decimal key (bucketed in its own type) included."""
    from decimal import Decimal

    from film_media_etl_spark.etl.star import prepare_global_index

    longs = spark.createDataFrame(
        [(3,), (None,), (1,), (400,), (7,), (None,)], "k long"
    )
    empty = spark.range(0).select(F.col("id").alias("k"))
    decs = spark.createDataFrame(
        [(Decimal("901.23"),), (Decimal("55.10"),), (Decimal("1234.99"),), (Decimal("55.10"),)],
        "p decimal(12,2)",
    )
    ints = spark.range(1000).select((F.col("id") * 7 % 1003).cast("int").alias("i"))
    pairs = [(longs, "k"), (empty, "k"), (decs, "p"), (ints, "i")]
    many = prepare_global_index(pairs, nbuckets=5)
    assert many == [prepare_global_index(df, key, nbuckets=5) for df, key in pairs]
    assert many[1] == (0, 1, {}, 0)
    assert many[0][3] == 4 and many[2][3] == 4 and many[3][3] == 1000
    assert prepare_global_index([(empty, "k")]) == [(0, 1, {}, 0)]


def test_charlm_unicode_corpus_oracle_parity(spark, tmp_path):
    """ext_charlm_quality on a NON-ascii corpus: the dense 128^2 lookup
    is invalid there (Spark ascii() returns full code points — one CJK
    char indexed past the array and crashed the 4x scale bench), so the
    probe must route to the unicode-safe join spelling and still match
    the DuckDB oracle exactly."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from film_media_etl_spark.queries import all_oracles, all_queries
    from film_media_etl_spark.sources import TABLES

    src = str(tmp_path)
    texts = [
        "héllo wörld héllo",
        "データ パイプライン データ",
        "plain ascii text here",
        "mix méx データ mix méx",
        None,
        "ab",
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["xx"] * len(texts), pa.string()),
                "source": pa.array(["t"] * len(texts), pa.string()),
                "n_chars": pa.array(
                    [len(t) if t else None for t in texts], pa.int32()
                ),
            }
        ),
        f"{src}/documents.parquet",
    )
    for t in TABLES:
        if t != "documents":
            os.symlink(f"{PARITY_SF_DIR}/{t}.parquet", f"{src}/{t}.parquet")

    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logp"])
        for r in all_queries()["ext_charlm_quality"](spark, src).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{src}/documents.parquet'"
    )
    want = {
        row[0]: (row[1], row[2])
        for row in con.execute(all_oracles()["ext_charlm_quality"]).fetchall()
    }
    assert set(got) == set(want) and len(got) >= 5
    for k, (nb, lp) in want.items():
        assert got[k][0] == nb
        assert got[k][1] == lp, (k, got[k][1], lp)


def test_curation_pipeline_every_gate_fires(spark, tmp_path):
    """The fixture corpus never triggers too_short/wrong_lang/duplicate
    (nor most of the round-7 Gopher battery), so pin the gate ORDER and
    every reason — the original five plus the five Gopher table-A1
    rules — on a synthetic corpus where all fire, against the DuckDB
    oracle, not hand-expectations."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from film_media_etl_spark.queries import all_oracles, all_queries
    from film_media_etl_spark.sources import TABLES

    # Below the round-10 GOPHER_REP_MIN_TOKENS floor the 13-signal tier
    # passes vacuously (Gopher's own length precondition — on a ~24-word
    # doc one distinct 4-gram mechanically covers > 16% of the chars);
    # this doc stays comfortably clean either way.
    good = (
        "the quick brown fox jumps over the lazy dog and then the small "
        "bird sings while a friendly cat naps near the warm window today "
        "as evening light settles across the quiet garden and distant "
        "hills glow softly under a wide amber sky before night arrives"
    )
    texts = [
        good,                      # 0: ok
        "tiny",                    # 1: too_short
        None,                      # 2: too_short
        "der hund und die katze laufen durch den wald und der vogel "
        "singt dabei ein schönes lied über den hohen bergen im süden",  # 3: wrong_lang
        "x! y! z! w! q! a! b! c! d! e! f! g! h! i! j! k! l! m! n! o!",  # 4: low_quality
        ("the dog and " * 30).strip(),  # 5: repetitive (passes Gopher: mean
        #    word length exactly 3.0, two unique stop words)
        good,                      # 6: duplicate of 0
        "a an it is to in of on at up we he be do so no go my me us",  # 7: word_length
        "## the black cats sat down here while going again of it",  # 8: too_symbolic
        "- the alpha dogs\n- the bravo cats\n- the charlie birds",  # 9: bullet_lines
        "the brown foxes jumped over lazy dogs and quickly ran home...\n"
        "the second line",  # 10: ellipsis_lines (symbol ratio under cap)
        "the zebra the quokka the wombat the numbat the dingo the koala",
        # 11: no_stopwords (only ONE unique stop word, repeated)
        "the quick brown fox jumps over one lazy dog in a field while "
        "the sun shines on the hill\n"
        "the quick brown fox jumps over one lazy dog in a field while "
        "the sun shines on the hill\n"
        "another closing sentence with many unique tokens right here "
        "now to keep the total count of words above fifty overall",
        # 12: gopher_repetition (round-9 13-signal tier): ~56 tokens —
        #    ABOVE the round-10 GOPHER_REP_MIN_TOKENS=50 length
        #    precondition, so the battery actually applies — with
        #    duplicate LINE fraction 1/3 > 0.30 while the TTR/top-bigram
        #    gate passes (distinct tokens ~0.6, top bigram share 2/55) —
        #    exactly the repetition class the old binary gate could not
        #    see
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["xx"] * len(texts), pa.string()),
                "source": pa.array(["t"] * len(texts), pa.string()),
                "n_chars": pa.array(
                    [len(t) if t else None for t in texts], pa.int32()
                ),
            }
        ),
        f"{tmp_path}/documents.parquet",
    )
    for t in TABLES:
        if t != "documents":
            os.symlink(f"{PARITY_SF_DIR}/{t}.parquet", f"{tmp_path}/{t}.parquet")

    got = {
        r["doc_id"]: (r["reject_reason"], r["keep"])
        for r in all_queries()["ext_curation_pipeline"](spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    want = {
        row[0]: (row[1], row[2])
        for row in con.execute(all_oracles()["ext_curation_pipeline"]).fetchall()
    }
    assert got == want
    reasons = {v[0] for v in got.values()}
    assert reasons == {
        "ok", "too_short", "wrong_lang", "low_quality", "repetitive",
        "duplicate", "word_length", "too_symbolic", "bullet_lines",
        "ellipsis_lines", "no_stopwords", "gopher_repetition",
    }, reasons
    assert got[6] == ("duplicate", False) and got[0][0] == "ok"
    assert got[7][0] == "word_length" and got[8][0] == "too_symbolic"
    assert got[9][0] == "bullet_lines" and got[10][0] == "ellipsis_lines"
    assert got[11][0] == "no_stopwords" and got[5][0] == "repetitive"
    assert got[12][0] == "gopher_repetition"


def test_kneser_ney_is_proper_distribution_and_matches_reference(spark, tmp_path):
    """Oracle parity can't catch a formula transcribed wrong on BOTH
    sides, so check ext_kneser_ney_lm against an independent pure-Python
    KN implementation on a tiny corpus — and check the model itself is a
    proper distribution (sum over the FULL vocab of P(w2|w1) == 1 for
    every context, discounted mass exactly recycled through Pcont)."""
    import math
    import os
    from collections import Counter

    import pyarrow as pa
    import pyarrow.parquet as pq

    from film_media_etl_spark.queries import all_queries
    from film_media_etl_spark.sources import TABLES

    texts = [
        "the cat sat on the mat",
        "the dog sat on the log",
        "a cat and a dog",
        "the cat and the dog sat",
        "on the mat sat a cat",
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * len(texts), pa.string()),
                "source": pa.array(["t"] * len(texts), pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int32()),
            }
        ),
        f"{tmp_path}/documents.parquet",
    )
    for t in TABLES:
        if t != "documents":
            os.symlink(f"{PARITY_SF_DIR}/{t}.parquet", f"{tmp_path}/{t}.parquet")

    # independent reference model
    D = 0.75
    bigrams = []
    per_doc = {}
    for i, t in enumerate(texts):
        toks = t.lower().split(" ")
        bg = list(zip(toks[:-1], toks[1:]))
        per_doc[i] = bg
        bigrams.extend(bg)
    c = Counter(bigrams)
    ctx = Counter()
    n1fwd = Counter()
    cont = Counter()
    for (w1, w2), k in c.items():
        ctx[w1] += k
        n1fwd[w1] += 1
        cont[w2] += 1
    types = len(c)

    def p_kn(w1, w2):
        return (
            max(c.get((w1, w2), 0) - D, 0.0) + D * n1fwd[w1] * cont[w2] / types
        ) / ctx[w1]

    # proper distribution over the full continuation vocabulary
    vocab2 = set(w2 for _, w2 in c)
    for w1 in ctx:
        assert abs(sum(p_kn(w1, w2) for w2 in vocab2) - 1.0) < 1e-9, w1

    want = {
        i: (
            len(bg),
            sum(round(math.log10(p_kn(w1, w2)), 6) for w1, w2 in bg) / len(bg),
        )
        for i, bg in per_doc.items()
    }
    got = {
        r["doc_id"]: (r["n_bigrams"], r["kn_avg_logp"])
        for r in all_queries()["ext_kneser_ney_lm"](spark, str(tmp_path)).collect()
    }
    assert set(got) == set(want)
    for i in want:
        assert got[i][0] == want[i][0]
        assert abs(got[i][1] - want[i][1]) < 1e-12, (i, got[i], want[i])


def test_bpe_merges_match_independent_python_bpe(spark):
    """The distributed BPE learner must reproduce, merge for merge, an
    independent plain-Python BPE (word-count dict, pair-count dict,
    greedy leftmost application, lexicographic tie-break) run over the
    same corpus — counts included."""
    from collections import Counter

    from film_media_etl_spark.operators.bpe import learn_bpe_merges
    from film_media_etl_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    got = learn_bpe_merges(docs, k=8)

    words = Counter()
    for r in docs.select("text").collect():
        if r["text"] is None:
            continue
        for w in r["text"].lower().split(" "):
            if w:
                words[tuple(w)] += 1

    def apply(word, pair):
        out, i = [], 0
        while i < len(word):
            if i + 1 < len(word) and (word[i], word[i + 1]) == pair:
                out.append(word[i] + word[i + 1])
                i += 2
            else:
                out.append(word[i])
                i += 1
        return tuple(out)

    want = []
    vocab = dict(words)
    for _ in range(8):
        pc = Counter()
        for w, n in vocab.items():
            for a, b in zip(w, w[1:]):
                pc[(a, b)] += n
        if not pc:
            break
        pair = min(pc, key=lambda p: (-pc[p], p))
        want.append((pair[0], pair[1], pc[pair]))
        # re-derive the vocab from the RAW words through all merges so
        # far — a deliberately different composition order than the
        # Spark learner's sequential vocab updates, so agreement also
        # cross-checks that the two are equivalent
        vocab = Counter()
        merges_so_far = [(l, r) for l, r, _ in want]
        for w, n in words.items():
            cur = w
            for m in merges_so_far:
                cur = apply(cur, m)
            vocab[cur] += n

    assert got == want
    assert len(got) == 8


def test_bpe_tokenize_matches_python_apply(spark):
    """apply_bpe_merges must produce, per document, exactly the token
    count a plain-Python greedy-leftmost BPE apply yields under the same
    learned merge table — including docs with null/empty text (0
    tokens, never NULL)."""
    from film_media_etl_spark.operators.bpe import (
        apply_bpe_merges,
        learn_bpe_merges,
    )
    from film_media_etl_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    merges = learn_bpe_merges(docs, k=8)
    got = {
        r["doc_id"]: (r["n_bpe_tokens"], r["n_words"])
        for r in apply_bpe_merges(docs, merges).collect()
    }

    def apply(word, pair):
        out, i = [], 0
        while i < len(word):
            if i + 1 < len(word) and (word[i], word[i + 1]) == pair:
                out.append(word[i] + word[i + 1])
                i += 2
            else:
                out.append(word[i])
                i += 1
        return out

    want = {}
    for r in docs.select("doc_id", "text").collect():
        words = [w for w in (r["text"] or "").lower().split(" ") if w]
        ntok = 0
        for w in words:
            syms = list(w)
            for l, rr, _ in merges:
                syms = apply(syms, (l, rr))
            ntok += len(syms)
        want[r["doc_id"]] = (ntok, len(words))
    assert got == want


def test_merge_pair_expr_matches_greedy_model(spark):
    """_merge_pair_expr (the BPE fold) vs a plain-Python greedy-leftmost
    scan over randomized symbol arrays — multi-char symbols, self-merges
    (a,a) on runs, merges absent from the array, and pairs that only
    ALMOST match (left present, right elsewhere). One Spark job scores
    all cases."""
    import random

    from film_media_etl_spark.operators.bpe import _merge_pair_expr

    rng = random.Random(777)
    alphabet = ["a", "b", "ab", "ba", "c", "aa"]
    cases = []
    for i in range(400):
        syms = [rng.choice(alphabet) for _ in range(rng.randint(1, 12))]
        left, right = rng.choice(alphabet), rng.choice(alphabet)
        cases.append((i, syms, left, right))

    def greedy(word, pair):
        out, i = [], 0
        while i < len(word):
            if i + 1 < len(word) and (word[i], word[i + 1]) == pair:
                out.append(word[i] + word[i + 1])
                i += 2
            else:
                out.append(word[i])
                i += 1
        return out

    # group cases by merge pair so each pair is one literal expression
    by_pair = {}
    for i, syms, left, right in cases:
        by_pair.setdefault((left, right), []).append((i, syms))
    got = {}
    for (left, right), rows in by_pair.items():
        df = spark.createDataFrame(rows, "i long, syms array<string>")
        for r in df.select(
            "i", _merge_pair_expr(F.col("syms"), left, right).alias("m")
        ).collect():
            got[r["i"]] = r["m"]
    for i, syms, left, right in cases:
        assert got[i] == greedy(syms, (left, right)), (syms, left, right)


def test_bpe_learner_unicode_corpus(spark):
    """Character splitting must be CODE-POINT based on both sides —
    Spark's split(w, '') yields full code points (verified up to
    astral-plane emoji, which are surrogate PAIRS in the JVM), so BPE
    learned over a CJK/emoji corpus must still match the Python model
    merge for merge."""
    from collections import Counter

    from film_media_etl_spark.operators.bpe import learn_bpe_merges

    texts = [
        "データ データ パイプ",
        "😀😀 😀😀 deep",
        "héllo héllo wörld",
        "データ😀 mix データ😀",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = learn_bpe_merges(docs, k=4)

    words = Counter()
    for t in texts:
        for w in t.lower().split(" "):
            if w:
                words[tuple(w)] += 1

    def apply(word, pair):
        out, i = [], 0
        while i < len(word):
            if i + 1 < len(word) and (word[i], word[i + 1]) == pair:
                out.append(word[i] + word[i + 1])
                i += 2
            else:
                out.append(word[i])
                i += 1
        return tuple(out)

    want, vocab = [], dict(words)
    for _ in range(4):
        pc = Counter()
        for w, n in vocab.items():
            for a, b in zip(w, w[1:]):
                pc[(a, b)] += n
        if not pc:
            break
        pair = min(pc, key=lambda p: (-pc[p], p))
        want.append((pair[0], pair[1], pc[pair]))
        vocab = {}
        for w, n in words.items():
            cur = tuple(w)
            for l, r, _ in want:
                cur = apply(cur, (l, r))
            vocab[cur] = vocab.get(cur, 0) + n
    assert got == want and len(got) == 4


def test_token_budget_sample_matches_python_greedy(spark):
    """The 256-bin two-pass selection must equal the naive semantics: per
    source, docs in md5-hash order are kept while the tokens BEFORE them
    are under budget. Re-derives the expected (n_kept, tokens_kept) per
    source with a pure-Python greedy over the same parquet."""
    import hashlib

    import pyarrow.parquet as pq

    from film_media_etl_spark.queries.llm_curation import ext_token_budget_sample

    tbl = pq.read_table(f"{PARITY_SF_DIR}/documents.parquet").to_pylist()
    per = {}
    for r in tbl:
        nt = len(r["text"].split(" "))
        h = hashlib.md5(str(r["doc_id"]).encode()).hexdigest()
        per.setdefault(r["source"], []).append((h, r["doc_id"], nt))
    total = sum(nt for docs in per.values() for _, _, nt in docs)
    budget = total // (2 * len(per))
    want = {}
    for src, docs in per.items():
        docs.sort()
        prior, n_kept, tokens_kept = 0, 0, 0
        for _, _, nt in docs:
            if prior < budget:
                n_kept += 1
                tokens_kept += nt
            prior += nt
        want[src] = (budget, len(docs), prior, n_kept, tokens_kept)

    got = {
        r["source"]: (
            r["budget_tokens"],
            r["n_docs"],
            r["tokens_total"],
            r["n_kept"],
            r["tokens_kept"],
        )
        for r in ext_token_budget_sample(spark, PARITY_SF_DIR).collect()
    }
    assert got == want
    # the greedy boundary actually bites: at least one source truncated
    assert any(k < n for _, n, _, k, _ in want.values())


def test_mixture_temperature_closure_properties(spark):
    """Temperature weights must form a distribution and conserve the
    token budget: sum(weight) == 1 and sum(expected_tokens) == total
    (to float tolerance); epochs * n_tokens == expected_tokens exactly
    by construction; flattening: every weight strictly between the
    natural share p_s and uniform 1/n when p_s != 1/n."""
    from film_media_etl_spark.queries.llm_curation import ext_mixture_temperature

    rows = ext_mixture_temperature(spark, PARITY_SF_DIR).collect()
    total = sum(r["n_tokens"] for r in rows)
    assert abs(sum(r["weight"] for r in rows) - 1.0) < 1e-9
    assert abs(sum(r["expected_tokens"] for r in rows) - total) < 1e-6 * total
    for r in rows:
        assert abs(r["epochs"] * r["n_tokens"] - r["expected_tokens"]) < 1e-9 * total
        p = r["n_tokens"] / total
        lo, hi = sorted((p, 1.0 / len(rows)))
        if abs(p - 1.0 / len(rows)) > 1e-12:
            assert lo < r["weight"] < hi


def test_winnowing_matches_python_model(spark):
    """Recompute winnowing end-to-end in pure Python (k-gram md5s,
    sliding-window min, df-capped inverted index, pair counts) and
    compare the full pair set at the parity SF."""
    import hashlib

    import pyarrow.parquet as pq

    from film_media_etl_spark.queries.feature_ops import (
        _WIN_DF_CAP,
        _WIN_K,
        _WIN_SHARED_MIN,
        _WIN_W,
        ext_dedup_winnowing,
    )

    tbl = pq.read_table(
        f"{PARITY_SF_DIR}/documents.parquet", columns=["doc_id", "text"]
    ).to_pylist()
    fps = {}
    for r in tbl:
        toks = r["text"].lower().split(" ")
        if len(toks) < _WIN_K:
            continue
        hs = [
            hashlib.md5(" ".join(toks[i : i + _WIN_K]).encode()).hexdigest()
            for i in range(len(toks) - _WIN_K + 1)
        ]
        sel = {
            min(hs[j - _WIN_W + 1 : j + 1]) for j in range(_WIN_W - 1, len(hs))
        }
        fps[r["doc_id"]] = sel
    df = {}
    for sel in fps.values():
        for fp in sel:
            df[fp] = df.get(fp, 0) + 1
    keep = {fp for fp, n in df.items() if 2 <= n <= _WIN_DF_CAP}
    pairs = {}
    ids = sorted(fps)
    inv = {}
    for d in ids:
        for fp in fps[d] & keep:
            inv.setdefault(fp, []).append(d)
    for fp, ds in inv.items():
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                pairs[(ds[i], ds[j])] = pairs.get((ds[i], ds[j]), 0) + 1
    want = {p: n for p, n in pairs.items() if n >= _WIN_SHARED_MIN}

    got = {
        (r["doc_a"], r["doc_b"]): r["n_shared_fp"]
        for r in ext_dedup_winnowing(spark, PARITY_SF_DIR).collect()
    }
    assert got == want


def test_winnowing_detects_planted_passage(spark, tmp_path):
    """The guarantee that makes winnowing a SUBSTRING detector: a passage
    of >= k + 2w tokens pasted into two otherwise-unrelated documents
    must surface that pair. Unique sentinel tokens keep the planted
    fingerprints' df at exactly 2 (inside the stop-phrase cap)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from film_media_etl_spark.queries.feature_ops import (
        ext_dedup_winnowing,
    )
    from film_media_etl_spark.sources import TABLES

    passage = " ".join(f"zqplant{i}" for i in range(20))
    filler_a = " ".join(f"aw{i}" for i in range(30))
    filler_b = " ".join(f"bw{i}" for i in range(30))
    texts = [
        filler_a + " " + passage,
        passage + " " + filler_b,
        " ".join(f"cw{i}" for i in range(40)),
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([10, 20, 30], pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["xx"] * 3, pa.string()),
                "source": pa.array(["t"] * 3, pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        f"{src}/documents.parquet",
    )
    for t in TABLES:
        if t != "documents":
            os.symlink(f"{PARITY_SF_DIR}/{t}.parquet", f"{src}/{t}.parquet")

    rows = ext_dedup_winnowing(spark, src).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in rows] == [(10, 20)]
    assert rows[0]["n_shared_fp"] >= 2


def test_k_anonymity_matches_pandas_model(spark):
    """QI grouping recomputed with pandas: identical classes, sizes, and
    k flags."""
    import math
    import os

    import pyarrow.parquet as pq

    from film_media_etl_spark.queries.llm_curation import (
        _KANON_BAND,
        _KANON_K,
        ext_k_anonymity,
    )

    tbl = pq.read_table(f"{PARITY_SF_DIR}/customer.parquet").to_pylist()
    want = {}
    for r in tbl:
        key = (
            int(r["c_nationkey"]),
            r["c_mktsegment"],
            math.floor(r["c_acctbal"] / _KANON_BAND),
        )
        want[key] = want.get(key, 0) + 1
    got = {
        (r["nationkey"], r["segment"], r["bal_band"]): (
            r["group_n"],
            r["k_anonymous"],
        )
        for r in ext_k_anonymity(spark, PARITY_SF_DIR).collect()
    }
    assert got == {k: (n, n >= _KANON_K) for k, n in want.items()}
    # at the driver's correctness SF the audit must flag BOTH outcomes
    # (all-pass or all-fail would mean the QI generalization is mistuned)
    sib = os.path.join(os.path.dirname(PARITY_SF_DIR.rstrip("/")), "sf0.01")
    if os.path.isdir(sib):
        flags = {
            r["k_anonymous"] for r in ext_k_anonymity(spark, sib).collect()
        }
        assert flags == {True, False}


def test_rrf_fusion_score_formula_and_order(spark):
    """Every fused score must equal the closed form from its own rank
    columns, ranks must be unique per leg, and the output must be the
    top-20 by (score desc, doc_id)."""
    from film_media_etl_spark.queries.hybrid_retrieval import (
        _FUSED_N,
        _RRF_K,
        ext_rrf_fusion,
    )

    rows = ext_rrf_fusion(spark, PARITY_SF_DIR).collect()
    assert len(rows) == _FUSED_N
    for r in rows:
        want = (1.0 / (_RRF_K + r["lex_rank"]) if r["lex_rank"] != -1 else 0.0) + (
            1.0 / (_RRF_K + r["sem_rank"]) if r["sem_rank"] != -1 else 0.0
        )
        assert r["rrf_score"] == want
    lex = [r["lex_rank"] for r in rows if r["lex_rank"] != -1]
    sem = [r["sem_rank"] for r in rows if r["sem_rank"] != -1]
    assert len(lex) == len(set(lex)) and len(sem) == len(set(sem))
    keys = [(-r["rrf_score"], r["doc_id"]) for r in rows]
    assert keys == sorted(keys)
    # fusion is doing work: at least one doc carries both ranks
    assert any(r["lex_rank"] != -1 and r["sem_rank"] != -1 for r in rows)


def test_kmeans_update_matches_numpy_fixed_point(spark):
    """Recompute the Lloyd update in numpy with the same Q20 floor
    quantization: identical assignment (exact squared-L2 argmin on
    doubles), identical integer sums, identical means."""
    import math

    import numpy as np
    import pyarrow.parquet as pq

    from film_media_etl_spark.queries.clustering import (
        _FP_SCALE,
        _N_SEEDS,
        ext_kmeans_update,
    )

    tbl = pq.read_table(f"{PARITY_SF_DIR}/embeddings.parquet").to_pylist()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in tbl}
    seeds = {i: vecs[i] for i in range(_N_SEEDS)}

    def l2sq_fold(a, b):
        # strict left-to-right fold: the engine's pinned evaluation
        # order (np.sum's pairwise summation can differ in the last ulp)
        s = 0.0
        for x, y in zip(a, b):
            s = s + (x - y) * (x - y)
        return s

    agg = {}
    for vid, v in vecs.items():
        best = min(seeds, key=lambda c: (l2sq_fold(v, seeds[c]), c))
        for dim, x in enumerate(v):
            n, s = agg.get((best, dim), (0, 0))
            agg[(best, dim)] = (n + 1, s + math.floor(x * _FP_SCALE))
    want = {
        k: (n, s / (n * float(_FP_SCALE))) for k, (n, s) in agg.items()
    }

    rows = ext_kmeans_update(spark, PARITY_SF_DIR).collect()
    got = {
        (r["centroid_id"], r["dim"]): (r["n_vectors"], r["new_coord"])
        for r in rows
    }
    assert got == want
    for r in rows:
        old = math.floor(seeds[r["centroid_id"]][r["dim"]] * _FP_SCALE) / float(
            _FP_SCALE
        )
        assert r["old_coord"] == old
        assert r["shift"] == r["new_coord"] - old
    # every vector contributes each dimension exactly once
    d = len(next(iter(vecs.values())))
    assert sum(r["n_vectors"] for r in rows) == len(vecs) * d


def test_winnowing_boilerplate_suppressed_by_df_cap(spark, tmp_path):
    """Stop-phrase behavior: a boilerplate passage shared by EVERY doc
    (df way past the cap) must produce zero pairs on its own, while a
    passage planted in just two docs still surfaces that pair — the df
    cap is what keeps a 100 TB corpus's shared headers/footers from
    exploding the fingerprint join."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from film_media_etl_spark.queries.feature_ops import (
        _WIN_DF_CAP,
        ext_dedup_winnowing,
    )
    from film_media_etl_spark.sources import TABLES

    boiler = " ".join(f"footer{i}" for i in range(16))
    plant = " ".join(f"zq{i}" for i in range(20))
    n_docs = _WIN_DF_CAP + 10
    texts = []
    for d in range(n_docs):
        body = " ".join(f"u{d}w{i}" for i in range(25))
        t = body + " " + boiler
        if d in (3, 7):
            t = plant + " " + t
        texts.append(t)
    src = str(tmp_path / "src")
    os.makedirs(src)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n_docs), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["xx"] * n_docs, pa.string()),
                "source": pa.array(["t"] * n_docs, pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        f"{src}/documents.parquet",
    )
    for t in TABLES:
        if t != "documents":
            os.symlink(f"{PARITY_SF_DIR}/{t}.parquet", f"{src}/{t}.parquet")

    rows = ext_dedup_winnowing(spark, src).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in rows] == [(3, 7)]


def test_perplexity_buckets_tercile_invariants(spark):
    """Rank-tercile contract per language: bucket sizes differ by at
    most 1 (NTILE), buckets are ordered by score (head's worst >= the
    middle's best, etc., up to exact ties), and totals equal the number
    of scored (>= 2-token) documents."""
    import pyarrow.parquet as pq

    from film_media_etl_spark.queries.charlm import ext_perplexity_buckets

    rows = ext_perplexity_buckets(spark, PARITY_SF_DIR).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], {})[r["bucket"]] = r
    tbl = pq.read_table(
        f"{PARITY_SF_DIR}/documents.parquet", columns=["lang", "text"]
    ).to_pylist()
    scored = {}
    for t in tbl:
        if t["text"] is not None and len(t["text"].lower().split(" ")) >= 2:
            scored[t["lang"]] = scored.get(t["lang"], 0) + 1
    assert {k: sum(r["n_docs"] for r in v.values()) for k, v in by_lang.items()} == scored
    for lang, buckets in by_lang.items():
        assert set(buckets) == {1, 2, 3}
        sizes = [buckets[b]["n_docs"] for b in (1, 2, 3)]
        assert max(sizes) - min(sizes) <= 1
        assert sizes == sorted(sizes, reverse=True)  # NTILE puts remainders first
        assert buckets[1]["min_logp"] >= buckets[2]["max_logp"]
        assert buckets[2]["min_logp"] >= buckets[3]["max_logp"]


def test_unigram_tokenize_matches_python_viterbi(spark):
    """The in-fold Viterbi DP pinned token-for-token against an
    independent plain-Python Viterbi (decimal arithmetic, same
    max-logp-then-fewest-pieces tie rule) over the ENGINE's own piece
    table (itself oracle-pinned by ext_unigram_vocab)."""
    from decimal import Decimal

    import pyarrow.parquet as pq

    from film_media_etl_spark.operators.unigram import MAX_PIECE_LEN
    from film_media_etl_spark.queries.ml_features import (
        ext_unigram_tokenize,
        ext_unigram_vocab,
    )

    pieces = {
        r["piece"]: Decimal(str(r["logp"]))
        for r in ext_unigram_vocab(spark, PARITY_SF_DIR).collect()
    }

    def viterbi(w):
        neg = Decimal("-Infinity")
        best = [(Decimal(0), 0)] + [(neg, 0)] * len(w)
        for j in range(1, len(w) + 1):
            cand = []
            for l in range(1, min(MAX_PIECE_LEN, j) + 1):
                p = pieces.get(w[j - l : j])
                if p is not None and best[j - l][0] != neg:
                    lp, np_ = best[j - l]
                    cand.append((lp + p, -(np_ + 1)))
            best[j] = (
                (max(cand)[0], -max(cand)[1]) if cand else (neg, 0)
            )
        return best[len(w)]

    tbl = pq.read_table(
        f"{PARITY_SF_DIR}/documents.parquet", columns=["doc_id", "text"]
    ).to_pylist()
    seg = {}
    want = {}
    for r in tbl:
        toks = [w for w in (r["text"] or "").lower().split(" ") if w]
        nt, lp = 0, Decimal(0)
        for w in toks:
            if w not in seg:
                seg[w] = viterbi(w)
            wl, wn = seg[w]
            nt += wn
            lp += wl
        want[r["doc_id"]] = (nt, len(toks), lp)

    got = {
        r["doc_id"]: (
            r["n_unigram_tokens"],
            r["n_words"],
            Decimal(str(r["doc_logp"])),
        )
        for r in ext_unigram_tokenize(spark, PARITY_SF_DIR).collect()
    }
    assert got == want
    # segmentation does real work: strictly fewer tokens than characters
    # for at least one document (compare each doc to ITS OWN text —
    # collect order is arbitrary)
    chars = {
        r["doc_id"]: sum(len(w) for w in (r["text"] or "").lower().split(" ") if w)
        for r in tbl
    }
    assert any(got[d][0] < chars[d] for d in got)


def test_unigram_em_matches_python_model(spark):
    """The hard-EM round pinned against an independent Python
    implementation: identical forward DP (max logp, then fewest
    pieces), identical backward walk (smallest start index among
    optimal candidates), identical corpus-weighted piece counts and
    prune flags. logp_em compared to 1e-6 (libm log10 may differ in
    the last ulp; counts and flags are exact)."""
    import math
    from decimal import Decimal

    import pyarrow.parquet as pq

    from film_media_etl_spark.operators.unigram import MAX_PIECE_LEN
    from film_media_etl_spark.queries.ml_features import ext_unigram_em
    from film_media_etl_spark.queries.ml_features import ext_unigram_vocab

    pieces = {
        r["piece"]: Decimal(str(r["logp"]))
        for r in ext_unigram_vocab(spark, PARITY_SF_DIR).collect()
    }

    def best_path(w):
        neg = Decimal("-Infinity")
        best = [(Decimal(0), 0)] + [(neg, 0)] * len(w)
        for j in range(1, len(w) + 1):
            cand = [
                (best[j - l][0] + pieces[w[j - l : j]], -(best[j - l][1] + 1))
                for l in range(1, min(MAX_PIECE_LEN, j) + 1)
                if w[j - l : j] in pieces and best[j - l][0] != neg
            ]
            m = max(cand)
            best[j] = (m[0], -m[1])
        out, j = [], len(w)
        while j > 0:
            starts = [
                j - l + 1
                for l in range(1, min(MAX_PIECE_LEN, j) + 1)
                if w[j - l : j] in pieces
                and best[j - l][0] + pieces[w[j - l : j]] == best[j][0]
                and best[j - l][1] + 1 == best[j][1]
            ]
            i = min(starts)
            out.append(w[i - 1 : j])
            j = i - 1
        return out[::-1]

    tbl = pq.read_table(
        f"{PARITY_SF_DIR}/documents.parquet", columns=["text"]
    ).to_pylist()
    wc = {}
    for r in tbl:
        for w in (r["text"] or "").lower().split(" "):
            if w:
                wc[w] = wc.get(w, 0) + 1
    c_em = {}
    for w, n in wc.items():
        for p in best_path(w):
            c_em[p] = c_em.get(p, 0) + n
    t = sum(c_em.values())

    rows = ext_unigram_em(spark, PARITY_SF_DIR).collect()
    assert {r["piece"] for r in rows} == set(pieces)
    for r in rows:
        want_c = c_em.get(r["piece"], 0)
        assert r["c_em"] == want_c, (r["piece"], r["c_em"], want_c)
        assert r["pruned"] == (want_c == 0)
        if want_c:
            assert abs(
                float(r["logp_em"]) - math.log10(want_c / t)
            ) < 2e-6
        else:
            assert float(r["logp_em"]) == 0.0
    # the round does real work: some pieces pruned, some kept
    flags = {r["pruned"] for r in rows}
    assert flags == {True, False}


def test_countmin_sketch_matches_python_model(spark):
    """CMS cells and point estimates recomputed in pure Python (same
    md5-nibble buckets); the never-underestimate invariant checked over
    the ENTIRE vocabulary, not just the emitted top-k."""
    import hashlib

    import pyarrow.parquet as pq

    from film_media_etl_spark.queries.scale_ops import (
        _CMS_D,
        ext_countmin_sketch,
    )

    tbl = pq.read_table(
        f"{PARITY_SF_DIR}/documents.parquet", columns=["text"]
    ).to_pylist()
    true_c = {}
    for r in tbl:
        for w in (r["text"] or "").lower().split(" "):
            if w:
                true_c[w] = true_c.get(w, 0) + 1

    def bucket(w, r):
        h = hashlib.md5(f"{w}#{r}".encode()).hexdigest()
        return int(h[:2], 16)

    cells = {}
    for w, n in true_c.items():
        for r in range(_CMS_D):
            key = (r, bucket(w, r))
            cells[key] = cells.get(key, 0) + n

    def est(w):
        return min(cells[(r, bucket(w, r))] for r in range(_CMS_D))

    # invariant over the whole vocab: the sketch never underestimates
    assert all(est(w) >= n for w, n in true_c.items())

    top = sorted(true_c.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    want = {w: (n, est(w), est(w) - n) for w, n in top}
    got = {
        r["token"]: (r["true_c"], r["est_c"], r["overestimate"])
        for r in ext_countmin_sketch(spark, PARITY_SF_DIR).collect()
    }
    assert got == want


def test_hard_negatives_matches_numpy_model(spark):
    """Positive/negative selection recomputed in Python with the
    left-to-right cosine fold and the same (score desc, id asc)
    tiebreak; margins and sentinels must match exactly."""
    import pyarrow.parquet as pq

    from film_media_etl_spark.queries.extensions import ext_hard_negatives

    tbl = pq.read_table(f"{PARITY_SF_DIR}/embeddings.parquet").to_pylist()
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in tbl}
    labels = {r["vec_id"]: r["label"] for r in tbl}

    def fold_cos(a, b):
        dot = na = nb = 0.0
        for x, y in zip(a, b):
            dot = dot + x * y
        for x in a:
            na = na + x * x
        for y in b:
            nb = nb + y * y
        return dot / (na**0.5 * nb**0.5)

    want = {}
    for qid in sorted(vecs):
        if qid >= 8:
            continue
        pos = neg = None
        for nid in sorted(vecs):
            if nid == qid:
                continue
            c = fold_cos(vecs[nid], vecs[qid])
            cand = (-c, nid)
            if labels[nid] == labels[qid]:
                pos = cand if pos is None else min(pos, cand)
            else:
                neg = cand if neg is None else min(neg, cand)
        p = (pos[1], -pos[0]) if pos else (-1, -2.0)
        n = (neg[1], -neg[0]) if neg else (-1, -2.0)
        want[qid] = (labels[qid], p[0], p[1], n[0], n[1], p[1] - n[1])

    got = {
        r["query_id"]: (
            r["label"],
            r["pos_id"],
            r["pos_cos"],
            r["neg_id"],
            r["neg_cos"],
            r["margin"],
        )
        for r in ext_hard_negatives(spark, PARITY_SF_DIR).collect()
    }
    assert got == want
    # mining does real work on this fixture: every query found both
    assert all(v[1] != -1 and v[3] != -1 for v in got.values())


def test_dp_noisy_counts_model_and_seed_stability(spark):
    """Laplace release: noise recomputed in Python from the md5-uniform
    inverse CDF (1.5e-6 tolerance for the last-ulp ln difference the
    6-decimal rounding absorbs); noisy_c - true_c == noise exactly; and
    the draw is a pure function of the GROUP KEY — identical noise for
    the same event_type at a different corpus scale."""
    import hashlib
    import math
    import os
    from decimal import Decimal

    from film_media_etl_spark.queries.llm_curation import (
        _DP_EPS,
        ext_dp_noisy_counts,
    )

    def noise_model(key):
        h = hashlib.md5(key.encode()).hexdigest()
        u = int(h[:6], 16) / 16**6
        mag = max(1.0 - 2.0 * abs(u - 0.5), 1e-12)
        sign = 1.0 if u >= 0.5 else -1.0
        return -(1.0 / _DP_EPS) * sign * math.log(mag)

    rows = ext_dp_noisy_counts(spark, PARITY_SF_DIR).collect()
    assert len(rows) > 0
    for r in rows:
        assert abs(float(r["noise"]) - noise_model(r["event_type"])) < 1.5e-6
        assert Decimal(r["noisy_c"]) - r["true_c"] == Decimal(r["noise"])
    sib = os.path.join(os.path.dirname(PARITY_SF_DIR.rstrip("/")), "sf0.01")
    if os.path.isdir(sib):
        other = {
            r["event_type"]: r["noise"]
            for r in ext_dp_noisy_counts(spark, sib).collect()
        }
        for r in rows:
            if r["event_type"] in other:
                assert other[r["event_type"]] == r["noise"]


def test_linear_gradient_step_matches_python_model(spark):
    """The exact SGD step recomputed in Python with integer arithmetic:
    identical per-bucket gradients, doc counts, and decimal updates."""
    import hashlib
    from decimal import Decimal

    import pyarrow.parquet as pq

    from film_media_etl_spark.queries.ml_features import (
        _N_BUCKETS,
        ext_linear_gradient_step,
    )

    def bucket(term):
        return int(hashlib.md5(term.encode()).hexdigest()[:6], 16) % _N_BUCKETS

    tbl = pq.read_table(
        f"{PARITY_SF_DIR}/documents.parquet", columns=["doc_id", "text", "n_chars"]
    ).to_pylist()
    grads, docs_per_bucket = {}, {}
    for row in tbl:
        toks = [t for t in (row["text"] or "").lower().split(" ") if t]
        if not toks:
            continue
        tf = {}
        for t in toks:
            b = bucket(t)
            tf[b] = tf.get(b, 0) + 1
        r = 3 + sum(n * ((b * 37) % 21 - 10) for b, n in tf.items()) - row["n_chars"]
        for b, n in tf.items():
            grads[b] = grads.get(b, 0) + r * n
            docs_per_bucket[b] = docs_per_bucket.get(b, 0) + 1
    lr = Decimal("0.000000001")
    want = {
        b: (
            (b * 37) % 21 - 10,
            g,
            docs_per_bucket[b],
            Decimal((b * 37) % 21 - 10) - g * lr,
        )
        for b, g in grads.items()
    }
    got = {
        r["bucket"]: (r["w_old"], r["grad"], r["n_docs"], Decimal(r["w_new"]))
        for r in ext_linear_gradient_step(spark, PARITY_SF_DIR).collect()
    }
    assert got == want
    # the step moves at least one weight
    assert any(v[1] != 0 for v in got.values())


def test_lm_greedy_decode_matches_python_model(spark):
    """The greedy path recomputed in Python from the engine's own model
    table (itself oracle-pinned via ext_kneser_ney_lm): same seed rule
    (max context mass, lexicographic tie), same argmax tie rule, same
    decimal cumulative sums."""
    from decimal import Decimal

    from film_media_etl_spark.queries.charlm import (
        _DECODE_STEPS,
        ext_lm_greedy_decode,
        kn_model_parts,
    )
    from film_media_etl_spark.sources import ensure_parallelism, load_table

    docs = ensure_parallelism(load_table(spark, PARITY_SF_DIR, "documents"))
    bg, model, w1s = kn_model_parts(docs)
    m = {}
    for r in model.collect():
        m.setdefault(r["w1"], []).append((r["w2"], Decimal(str(r["logp"]))))
    ctx = {r["w1"]: r["ctx"] for r in w1s.collect()}
    seed = min(ctx, key=lambda w: (-ctx[w], w))
    want = [(0, seed, Decimal(0), Decimal(0))]
    cur, cum = seed, Decimal(0)
    for k in range(1, _DECODE_STEPS + 1):
        outs = m.get(cur)
        if not outs:
            break
        w2, lp = min(outs, key=lambda t: (-t[1], t[0]))
        cur, cum = w2, cum + lp
        want.append((k, cur, lp, cum))

    got = [
        (r["step"], r["token"], Decimal(str(r["step_logp"])), Decimal(str(r["cum_logp"])))
        for r in sorted(
            ext_lm_greedy_decode(spark, PARITY_SF_DIR).collect(),
            key=lambda r: r["step"],
        )
    ]
    assert got == want
    assert len(got) == _DECODE_STEPS + 1  # the chain never dead-ends here


def test_event_regex_matches_python_model(spark):
    """Journey strings and non-overlapping match counts recomputed in
    Python re over the same (ts, event_id) ordering."""
    import re

    import pyarrow.parquet as pq

    from film_media_etl_spark.queries.event_analytics import (
        _SEQ_PATTERN,
        ext_event_regex,
    )

    tbl = pq.read_table(
        f"{PARITY_SF_DIR}/events.parquet",
        columns=["user_id", "ts", "event_id", "event_type"],
    ).to_pylist()
    per = {}
    for r in tbl:
        per.setdefault(r["user_id"], []).append(
            (r["ts"], r["event_id"], r["event_type"][0])
        )
    want = {}
    for u, evs in per.items():
        evs.sort()
        j = "".join(e[2] for e in evs)
        n = len(re.findall(_SEQ_PATTERN, j))
        want[u] = (len(evs), n, n > 0)
    got = {
        r["user_id"]: (r["n_events"], r["n_conversions"], r["converted"])
        for r in ext_event_regex(spark, PARITY_SF_DIR).collect()
    }
    assert got == want
    assert any(v[2] for v in got.values())
    # at the driver's correctness SF both outcomes occur (at sf0.001
    # every user's dense history happens to convert)
    import os

    sib = os.path.join(os.path.dirname(PARITY_SF_DIR.rstrip("/")), "sf0.01")
    if os.path.isdir(sib):
        flags = {
            r["converted"] for r in ext_event_regex(spark, sib).collect()
        }
        assert flags == {True, False}


def test_theil_sen_matches_python_model(spark):
    """Slope/intercept recomputed in Python (statistics.median over all
    pairwise slopes of the exact daily decimal totals)."""
    import statistics
    from decimal import Decimal

    import pyarrow.parquet as pq

    from film_media_etl_spark.queries.advanced_analytics import ext_theil_sen

    tbl = pq.read_table(
        f"{PARITY_SF_DIR}/events.parquet", columns=["event_type", "ts", "value"]
    ).to_pylist()
    daily = {}
    for r in tbl:
        key = (r["event_type"], r["ts"].date().toordinal() - 719163)  # 1970-01-01
        q = Decimal(str(r["value"])).quantize(Decimal("0.0001"))
        daily[key] = daily.get(key, Decimal(0)) + q
    series = {}
    for (t, x), y in daily.items():
        series.setdefault(t, []).append((x, float(y)))
    want = {}
    for t, pts in series.items():
        pts.sort()
        slopes = [
            (y2 - y1) / float(x2 - x1)
            for i, (x1, y1) in enumerate(pts)
            for (x2, y2) in pts[i + 1 :]
        ]
        s = statistics.median(slopes)
        want[t] = (len(pts), s, statistics.median(y - s * x for x, y in pts))

    got = {
        r["event_type"]: (r["n_days"], r["slope"], r["intercept"])
        for r in ext_theil_sen(spark, PARITY_SF_DIR).collect()
    }
    assert set(got) == set(want)
    for t, (n, s, b) in want.items():
        gn, gs, gb = got[t]
        assert gn == n
        assert abs(gs - s) < 1e-9 and abs(gb - b) < 1e-9


def test_kmeans_loop_round0_matches_assign_and_conserves_mass(spark):
    """The loop's round 0 must reproduce ext_kmeans_assign exactly (same
    shared assignment stage), and every round must partition the full
    corpus (cluster sizes sum to the vector count)."""
    from film_media_etl_spark.queries.clustering import (
        _LOOP_ROUNDS,
        ext_kmeans_assign,
        ext_kmeans_loop,
    )

    rows = ext_kmeans_loop(spark, PARITY_SF_DIR).collect()
    total = None
    by_round = {}
    for r in rows:
        by_round.setdefault(r["round"], {})[r["centroid_id"]] = (
            r["n_vectors"],
            r["min_dist2"],
            r["max_dist2"],
        )
    assert set(by_round) == set(range(_LOOP_ROUNDS))
    n_vecs = {sum(v[0] for v in rd.values()) for rd in by_round.values()}
    assert len(n_vecs) == 1  # every round partitions the same corpus

    assign = {
        r["centroid_id"]: (r["n_vectors"], r["min_dist2"], r["max_dist2"])
        for r in ext_kmeans_assign(spark, PARITY_SF_DIR).collect()
    }
    assert by_round[0] == assign


def test_funnel_windowed_matches_python_model(spark):
    """Stage counts recomputed in Python with the same anchored-window
    rule; the window must BITE (strictly fewer conversions than the
    unconstrained funnel would admit, or at least a non-trivial mix)."""
    import datetime

    import pyarrow.parquet as pq

    from film_media_etl_spark.queries.event_analytics import (
        _FUNNEL_STEP_HOURS,
        ext_funnel_windowed,
    )

    tbl = pq.read_table(
        f"{PARITY_SF_DIR}/events.parquet", columns=["user_id", "ts", "event_type"]
    ).to_pylist()
    per = {}
    for r in tbl:
        per.setdefault(r["user_id"], []).append((r["ts"], r["event_type"]))
    step = datetime.timedelta(hours=_FUNNEL_STEP_HOURS)
    n_v = n_c = n_p = 0
    for evs in per.values():
        views = [t for t, e in evs if e == "view"]
        if not views:
            continue
        n_v += 1
        tv = min(views)
        clicks = [t for t, e in evs if e == "click" and tv < t <= tv + step]
        if not clicks:
            continue
        n_c += 1
        tc = min(clicks)
        if any(e == "purchase" and tc < t <= tc + step for t, e in evs):
            n_p += 1
    row = ext_funnel_windowed(spark, PARITY_SF_DIR).collect()[0]
    assert (row["n_viewed"], row["n_clicked_in_window"], row["n_purchased_in_window"]) == (n_v, n_c, n_p)
    assert row["view_to_click"] == (n_c / n_v if n_v else 0.0)
    assert row["click_to_purchase"] == (n_p / n_c if n_c else 0.0)
    assert n_v > 0 and n_p < n_v  # the funnel narrows


def test_unigram_tokenize_oov_words_reported(spark):
    """A word the piece table cannot cover must surface in n_oov_words —
    not as a silently-perfect zero-token score (pieces trained on a
    DIFFERENT corpus than the docs being tokenized)."""
    from film_media_etl_spark.operators.unigram import (
        build_unigram_vocab,
        unigram_tokenize_docs,
    )

    train = spark.createDataFrame(
        [(0, "aa ab ba"), (1, "ab aa")], "doc_id long, text string"
    )
    pieces = build_unigram_vocab(train)
    apply_docs = spark.createDataFrame(
        [(10, "aa abz ab"), (11, "zz"), (12, "ba ba")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_unigram_tokens"], r["n_words"], r["n_oov_words"])
        for r in unigram_tokenize_docs(apply_docs, pieces).collect()
    }
    # 'abz' and 'zz' contain 'z', absent from the training charset;
    # 'aa' Viterbi-segments as a+a (logp(a)*2 > logp(aa)), 'ab' as one
    # piece — 3 tokens over the two segmentable words, abz counted OOV
    assert got[10] == (3, 3, 1)
    assert got[11] == (0, 1, 1)
    assert got[12][2] == 0 and got[12][1] == 2 and got[12][0] >= 1


def test_retrieval_metrics_matches_python_model(spark):
    """precision@k / MRR / NDCG@k recomputed in Python over the exact
    cosine ranking with label-match relevance and the same 6-decimal
    discount rounding."""
    from decimal import ROUND_HALF_UP, Decimal
    import math

    import pyarrow.parquet as pq

    from film_media_etl_spark.queries.hybrid_retrieval import (
        _EVAL_K,
        _EVAL_QUERIES,
        ext_retrieval_metrics,
    )

    tbl = pq.read_table(f"{PARITY_SF_DIR}/embeddings.parquet").to_pylist()
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in tbl}
    labels = {r["vec_id"]: r["label"] for r in tbl}

    def cos(a, b):
        d = na = nb = 0.0
        for x, y in zip(a, b):
            d += x * y
        for x in a:
            na += x * x
        for y in b:
            nb += y * y
        return d / (na**0.5 * nb**0.5)

    def disc(rank):
        return Decimal(1.0 / math.log2(rank + 1.0)).quantize(
            Decimal("0.000001"), ROUND_HALF_UP
        )

    want = {}
    for qid in range(_EVAL_QUERIES):
        ranked = sorted(
            ((-cos(vecs[n], vecs[qid]), n) for n in vecs if n != qid)
        )
        rels = [1 if labels[n] == labels[qid] else 0 for _, n in ranked]
        top = rels[:_EVAL_K]
        n_rel = sum(top)
        first = next((i + 1 for i, r in enumerate(top) if r), 0)
        dcg = sum((disc(i + 1) for i, r in enumerate(top) if r), Decimal(0))
        n_rel_total = sum(rels)
        ideal_n = min(n_rel_total, _EVAL_K)
        idcg = sum((disc(i + 1) for i in range(ideal_n)), Decimal(0))
        want[qid] = (
            n_rel,
            n_rel / _EVAL_K,
            1.0 / first if first else 0.0,
            float(dcg) / float(idcg) if idcg else 0.0,
        )
    got = {
        r["query_id"]: (
            r["n_rel_at_k"],
            r["precision_at_k"],
            r["mrr"],
            r["ndcg_at_k"],
        )
        for r in ext_retrieval_metrics(spark, PARITY_SF_DIR).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0] and got[k][1] == want[k][1]
        assert got[k][2] == want[k][2]
        assert abs(got[k][3] - want[k][3]) < 1e-9
    # the metric is informative on this corpus: not all queries perfect
    assert any(v[3] < 1.0 for v in got.values()) or any(
        v[0] < _EVAL_K for v in got.values()
    )


def test_viterbi_segment_pieces_uncoverable_word_empty_seg(spark):
    """Round-4 ADVICE: the public builders accept ANY piece table, so a
    word whose characters the table cannot cover must come back with an
    EMPTY seg from the backward walk — not an array of NULL pieces that
    unigram_em_round would explode into the used-mass normalizer."""
    from film_media_etl_spark.operators.unigram import (
        viterbi_segment_pieces,
        viterbi_word_segments,
    )

    words = spark.createDataFrame([("ab",), ("zq",), ("az",)], "w string")
    # piece table covers only 'a' and 'b': "ab" segments, "zq" is fully
    # uncoverable, "az" is PARTIALLY coverable (prefix reachable, end not)
    pieces = spark.createDataFrame(
        [("a", "-0.3"), ("b", "-0.5"), ("ab", "-0.6")],
        "piece string, logp string",
    ).selectExpr("piece", "CAST(logp AS DECIMAL(20,6)) AS logp")

    segs = {r["w"]: list(r["seg"]) for r in viterbi_segment_pieces(words, pieces).collect()}
    assert segs["ab"] == ["ab"]  # a+b=-0.8 < ab=-0.6 -> single-piece path
    # "az" is partially coverable: it reaches the fold but its end prefix
    # is unreachable, so the guarded backward walk emits the EMPTY seg
    assert segs["az"] == []
    # "zq" matches NO piece at all -> absent from the matches frame
    # entirely (callers LEFT-join and count it as OOV)
    assert "zq" not in segs
    assert all(p is not None for s in segs.values() for p in s)

    # the count-only fold agrees: NULL n_pieces / absence flag the same
    counts = {
        r["w"]: r["n_pieces"]
        for r in viterbi_word_segments(words, pieces).collect()
    }
    assert counts == {"ab": 1, "az": None}


@pytest.mark.parametrize("op", ["ext_span_corruption", "ext_span_corruption_varlen"])
def test_span_corruption_roundtrip_reconstructs_text(spark, op):
    """Denoising-pair invariant (fixed-length AND variable-length
    variants): splicing each <extra_id_k> sentinel's span from
    target_text back into input_text must reproduce the original
    document byte-for-byte, for EVERY document — masking that loses or
    reorders tokens would train a corrupted objective and is invisible
    to row counts. For the varlen op this also proves the geometric
    spans TILE the token stream exactly (no gap or overlap at any
    irregular boundary)."""
    import re

    import pyarrow.parquet as pq

    from film_media_etl_spark.queries import all_queries

    originals = {
        r["doc_id"]: r["text"]
        for r in pq.read_table(
            f"{PARITY_SF_DIR}/documents.parquet", columns=["doc_id", "text"]
        ).to_pylist()
        if r["text"]
    }
    rows = all_queries()[op](spark, PARITY_SF_DIR).collect()
    assert len(rows) == len(originals)
    saw_masked = False
    for r in rows:
        spans = {}
        if r["target_text"]:
            # target = '<extra_id_0> tok tok <extra_id_1> tok ...'
            parts = re.split(r"<extra_id_(\d+)> ?", r["target_text"])
            # parts = ['', k0, span0, k1, span1, ...]
            for k, span in zip(parts[1::2], parts[2::2]):
                spans[int(k)] = span.rstrip(" ")
        rebuilt = re.sub(
            r"<extra_id_(\d+)>", lambda m: spans[int(m.group(1))], r["input_text"]
        )
        assert rebuilt == originals[r["doc_id"]], r["doc_id"]
        saw_masked = saw_masked or r["n_spans_masked"] > 0
    assert saw_masked  # the rate actually masks at fixture scale


def test_weighted_sample_pps_matches_python_model(spark):
    """PPS systematic sampling vs a pure-Python model of the same design:
    md5-shuffled order, integer ceil-division stride math. Pins (a) the
    distributed two-pass prefix sum equals the model's GLOBAL cumulative
    line (the decomposition introduces no drift — integer adds), (b)
    sum(n_picks) == K exactly, and (c) the PPS property itself: every
    doc with w >= W/K is picked with multiplicity >= floor(K*w/W), and
    expected-inclusion ordering holds in aggregate (mean weight of
    picked docs exceeds the corpus mean — heavier docs proportionally
    likelier)."""
    import hashlib

    from film_media_etl_spark.queries import all_queries
    from film_media_etl_spark.queries.scale_ops import _PPS_K

    rows = (
        spark.read.parquet(f"{PARITY_SF_DIR}/documents.parquet")
        .select("doc_id", "n_chars")
        .collect()
    )
    docs = sorted(
        (hashlib.md5(str(r["doc_id"]).encode()).hexdigest(), r["doc_id"], r["n_chars"])
        for r in rows
    )
    total = sum(w for _, _, w in docs)

    def g(x: int) -> int:
        return min(_PPS_K, max(0, (2 * _PPS_K * x + total - 1) // (2 * total)))

    want, cw = {}, 0
    for _, doc_id, w in docs:
        cw += w
        n = g(cw) - g(cw - w)
        if n > 0:
            want[doc_id] = n

    got = {
        r["doc_id"]: r["n_picks"]
        for r in all_queries()["ext_weighted_sample_pps"](
            spark, PARITY_SF_DIR
        ).collect()
    }
    assert got == want
    assert sum(got.values()) == _PPS_K
    wmap = {doc_id: w for _, doc_id, w in docs}
    for doc_id, w in wmap.items():
        if w * _PPS_K >= total:
            assert got.get(doc_id, 0) >= (w * _PPS_K) // total, doc_id
    mean_picked = sum(wmap[d] for d in got) / len(got)
    assert mean_picked > total / len(docs)


def test_leakage_safe_split_users_are_disjoint_and_assignment_is_stable(spark):
    """The invariant the split exists for: a user appears in EXACTLY one
    split (sum of per-split distinct users == global distinct users), at
    roughly 80/10/10 shares, and the assignment is a pure function of
    user_id — recomputable row-by-row (pinned against hashlib.md5)."""
    import hashlib

    from film_media_etl_spark.queries import all_queries

    rows = all_queries()["ext_leakage_safe_split"](spark, PARITY_SF_DIR).collect()
    assert {r["split"] for r in rows} == {"train", "val", "test"}
    # per-(split, type) n_users double-counts a user across types, so the
    # disjointness invariant is recomputed from the raw assignment
    ev = spark.read.parquet(f"{PARITY_SF_DIR}/events.parquet")
    users = [r["user_id"] for r in ev.select("user_id").distinct().collect()]

    def split_of(uid: int) -> str:
        b = hashlib.md5(str(uid).encode()).hexdigest()[:2]
        return "train" if b < "cc" else ("val" if b < "e6" else "test")

    model = {}
    for u in users:
        model[split_of(u)] = model.get(split_of(u), 0) + 1
    assert sum(model.values()) == len(users)  # exactly one split per user

    got = {
        r["split"]: r["nu"]
        for r in ev.withColumn(
            "split",
            F.when(F.substring(F.md5(F.col("user_id").cast("string")), 1, 2) < "cc", "train")
            .when(F.substring(F.md5(F.col("user_id").cast("string")), 1, 2) < "e6", "val")
            .otherwise("test"),
        )
        .groupBy("split")
        .agg(F.countDistinct("user_id").alias("nu"))
        .collect()
    }
    assert got == model
    assert 0.7 < model.get("train", 0) / len(users) < 0.9


def test_bpe_learner_job_count_is_constant(spark):
    """Round-6 verdict #2: merge learning used to launch ~2 driver-
    synchronized jobs PER merge (argmax + eager checkpoint), making it
    the suite's most contention-amplified row. The single-task redesign
    must keep the Spark job count constant in k — one action, a handful
    of AQE stage jobs (3 measured), never O(k)."""
    from film_media_etl_spark.operators.bpe import learn_bpe_merges
    from film_media_etl_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    sc = spark.sparkContext
    sc.setJobGroup("bpe-jobcount", "pin job count")
    try:
        merges = learn_bpe_merges(docs, k=8)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("bpe-jobcount")
    assert len(merges) == 8
    assert len(jobs) <= 5, f"expected O(1) jobs, got {len(jobs)}"


def _exact_substr_model(texts, k):
    """Brute-force ExactSubstr model: global shingle occurrence lists,
    first-(doc,pos) survivorship, coverage-union removal, reassembly."""
    toks = {d: (t or "").lower().split(" ") for d, t in texts}
    occ: dict = {}
    for d, ws in sorted(toks.items()):
        for p in range(len(ws) - k + 1):
            occ.setdefault(tuple(ws[p : p + k]), []).append((d, p))
    removed = {d: set() for d in toks}
    for sites in occ.values():
        if len(sites) > 1:
            first = min(sites)
            for d, p in sites:
                if (d, p) != first:
                    removed[d].update(range(p, p + k))
    return {
        d: (
            len(ws),
            len(removed[d]),
            " ".join(w for i, w in enumerate(ws) if i not in removed[d]),
        )
        for d, ws in toks.items()
    }


def test_exact_substring_dedup_matches_python_model(spark):
    """The distributed ExactSubstr tier must reproduce a brute-force
    Python model (every shingle occurrence enumerated, first occurrence
    by (doc_id, pos), removed spans unioned) document for document —
    token counts, removal counts, and the reassembled text."""
    from film_media_etl_spark.operators.dedup import exact_substring_dedup
    from film_media_etl_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in exact_substring_dedup(docs, k=5).collect()
    }
    want = _exact_substr_model(
        [(r["doc_id"], r["text"]) for r in docs.select("doc_id", "text").collect()],
        5,
    )
    assert set(got) == set(want)
    mismatches = {d: (got[d], want[d]) for d in want if got[d] != want[d]}
    assert not mismatches, dict(list(mismatches.items())[:3])
    # the corpus actually exercises the operator (planted near-dups)
    assert sum(1 for v in want.values() if v[1] > 0) > 0


def test_exact_substring_dedup_planted_passage_guarantee(spark):
    """The paper's guarantee: a pasted passage of >= k tokens is removed
    from every occurrence EXCEPT the first, exactly — surrounding
    unique text untouched, shorter-than-k overlaps never removed."""
    from film_media_etl_spark.operators.dedup import exact_substring_dedup

    passage = "one two three four five six seven eight"  # 8 tokens, k=5
    rows = [
        (0, f"u0a u0b u0c {passage} u0d u0e"),
        (1, f"v1a v1b {passage} v1c v1d v1e"),  # full copy -> removed
        (2, "w2a w2b one two three w2c w2d w2e w2f"),  # 3-token overlap < k
        (3, "x3a x3b x3c x3d x3e x3f x3g x3h"),  # unique
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_removed"], r["clean_text"])
        for r in exact_substring_dedup(docs, k=5).collect()
    }
    assert got[0] == (0, rows[0][1])  # first occurrence survives intact
    assert got[1] == (8, "v1a v1b v1c v1d v1e")  # the whole passage gone
    assert got[2] == (0, rows[2][1])  # sub-k overlap never removed
    assert got[3] == (0, rows[3][1])


def test_exact_substring_dedup_radix_guard(spark):
    """The (doc_id, pos) radix encoding must FAIL LOUDLY when a shingle
    position reaches pos_radix — a silent overflow bleeds pos into the
    doc_id digits and elects a non-first survivor. At a tiny radix a
    long document raises from inside the encoding expression; the same
    radix stays correct (identical to the default-radix result) when
    every document fits under it."""
    import pytest
    from pyspark.errors import SparkRuntimeException

    from film_media_etl_spark.operators.dedup import exact_substring_dedup

    passage = "one two three four five six seven"
    long_doc = " ".join(f"w{i}" for i in range(12)) + f" {passage}"
    docs = spark.createDataFrame(
        [(0, f"{passage} tail0"), (1, long_doc)],
        "doc_id long, text string",
    )
    # doc 1 has 19 tokens -> shingle positions up to 15 >= radix 8
    with pytest.raises(SparkRuntimeException, match="pos_radix"):
        exact_substring_dedup(docs, k=5, pos_radix=8).collect()
    # radix 64 clears every position; result must equal the default radix
    small = {
        r["doc_id"]: (r["n_removed"], r["clean_text"])
        for r in exact_substring_dedup(docs, k=5, pos_radix=64).collect()
    }
    default = {
        r["doc_id"]: (r["n_removed"], r["clean_text"])
        for r in exact_substring_dedup(docs, k=5).collect()
    }
    assert small == default
    assert small[1][0] == 7  # the pasted passage removed from doc 1


def test_exact_substring_shingle_key_is_two_draws(spark):
    """The shingle key's h2 is its own xxhash64 chain, not the chained
    value xxhash64(shingle, 1) (= h1 re-hashed with 1), which is a pure
    function of h1 and would make the (h1, h2) pair a 64-bit key."""
    from film_media_etl_spark.operators.dedup import _shingle_key

    rng = random.Random(SEED)
    arrays = [
        [rng.choice(["a", "b", "c", "the", "a b", ""]) for _ in range(rng.randint(1, 8))]
        for _ in range(200)
    ]
    df = spark.createDataFrame([(i, a) for i, a in enumerate(arrays)], "i int, s array<string>")
    rows = df.select(
        *_shingle_key(F.col("s")), F.xxhash64(F.col("s"), F.lit(1)).alias("chained")
    ).collect()
    assert all(r["h2"] != r["chained"] and r["h2"] != r["h1"] for r in rows)
    # equal shingles still share the key; distinct shingles do not
    assert len({(r["h1"], r["h2"]) for r in rows}) == len({tuple(a) for a in arrays})


def test_gopher_battery_each_rule_fires(spark):
    """Every rule of the round-7 Gopher table-A1 battery must fire on a
    document constructed to violate it (and only the FIRST violated rule
    is reported — fixed order), with a passing document mapping to 'ok'."""
    import pyspark.sql.functions as F

    from film_media_etl_spark.functions import text as TX

    rows = [
        (0, "a b c d e f g h"),  # mean word length 1 < 3
        (1, " ".join(["abcdefghijkl"] * 6)),  # mean 12 > 10
        (2, "the cat ### sat down ... here we go now again ..."),  # symbols
        (3, "- alpha\n- bravo\n- charlie"),  # every line bullet-started
        (
            4,
            "alpha bravo charlie delta echos foxtrot golfers hotel india...\n"
            "julie kilos limas mikes novem oscar papas quebec romeo",
        ),  # 1/2 lines ellipsis-ended, symbols 1/18 under the ratio cap
        (5, "zebra quokka wombat numbat dingos bilby"),  # no stop words
        (6, "the quick brown foxes jumped over the fence and landed safely"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["reason"]
        for r in df.select(
            "doc_id",
            TX.gopher_reason(
                F.col("text"), F.split(F.lower("text"), " ")
            ).alias("reason"),
        ).collect()
    }
    assert got == {
        0: "word_length",
        1: "word_length",
        2: "too_symbolic",
        3: "bullet_lines",
        4: "ellipsis_lines",
        5: "no_stopwords",
        6: "ok",
    }


def test_c4_battery_each_rule_fires(spark):
    """Every C4 §2.2 rule must fire on a document constructed to violate
    it, first-violated-rule-wins, with a passing page mapping to 'ok' —
    and the line keep-rule's three conditions (terminal punctuation,
    >= 5 words, no javascript) each independently drop a line."""
    import pyspark.sql.functions as F

    from film_media_etl_spark.functions import text as TX

    good3 = (
        "the archivist logged every reel today.\n"
        "the vault humidity stayed within bounds.\n"
        "all three couriers cleared customs early."
    )
    rows = [
        (0, f"sample page with Lorem Ipsum filler inside.\n{good3}"),
        (1, "function() { return 1; }\n" + good3),
        (2, "word stream with no punctuation at all"),
        # only lines that WOULD be sentences mention javascript -> dropped
        (3, "enable javascript to view this page today.\n"
            "please enable JavaScript now to continue here.\n"
            "third line about javascript being required too."),
        # punctuated lines with < 5 words don't count toward sentences
        (4, "too few words here.\nalso too short.\nstill too short."),
        (5, good3),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["reason"]
        for r in df.select(
            "doc_id", TX.c4_reason(F.col("text")).alias("reason")
        ).collect()
    }
    assert got == {
        0: "lorem_ipsum",
        1: "curly_brace",
        2: "too_few_sentences",
        3: "too_few_sentences",
        4: "too_few_sentences",
        5: "ok",
    }
    kept = {
        r["doc_id"]: r["k"]
        for r in df.select(
            "doc_id", F.size(TX.c4_kept_lines(F.col("text"))).alias("k")
        ).collect()
    }
    assert kept[3] == 0 and kept[4] == 0 and kept[5] == 3


def test_curation_c4_tier_fixture_profile(spark):
    """The SHARED curation gate's C4 tier (CURATION_C4_MIN_SENTENCES=0):
    the structural sentence floor is off — an unpunctuated single-line
    fixture document stays 'ok' (so the downstream repetition/duplicate
    gates keep their test signal) — while the content page gates
    (lorem-ipsum, curly-brace) still fire through it."""
    import pyspark.sql.functions as F

    from film_media_etl_spark.functions import text as TX

    rows = [
        (0, "plain single line fixture document with no punctuation"),
        (1, "this page hides lorem ipsum in its body"),
        (2, "config = { key: value }"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["reason"]
        for r in df.select(
            "doc_id", TX.curation_c4_reason(F.col("text")).alias("reason")
        ).collect()
    }
    assert got == {0: "ok", 1: "lorem_ipsum", 2: "curly_brace"}


def _repetition_model(text: str) -> dict:
    """Brute-force model of the Gopher repetition-signal vector:
    Counter-based gram stats and a covered-position SET for the
    duplicated-n-gram union coverage — deliberately nothing like the
    sorted-fold/interval implementation it checks."""
    from collections import Counter

    from film_media_etl_spark.queries.repetition_signals import (
        GOPHER_REP_THRESHOLDS,
    )

    tx = text or ""
    toks = tx.lower().split(" ")
    total = len(" ".join(toks))
    out = {}

    def seg(segs):
        n, nd = len(segs), len(set(segs))
        chars = sum(map(len, segs))
        chd = sum(len(x) for x in set(segs))
        return (
            (n - nd) / n if n else 0.0,
            (chars - chd) / chars if chars > 0 else 0.0,
        )

    out["dup_line_frac"], out["dup_line_char_frac"] = seg(tx.split("\n"))
    out["dup_para_frac"], out["dup_para_char_frac"] = seg(tx.split("\n\n"))
    for n in (2, 3, 4):
        grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        best = max(
            (c * len(g) for g, c in Counter(grams).items()), default=0
        )
        out[f"top_{n}gram_char_frac"] = best / total if total > 0 else 0.0
    for n in range(5, 11):
        grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        cnt = Counter(grams)
        covered: set = set()
        for i, g in enumerate(grams):
            if cnt[g] > 1:
                covered.update(range(i, i + n))
        ch = sum(len(toks[i]) for i in covered)
        ch += sum(1 for i in covered if i + 1 in covered)
        out[f"dup_{n}gram_char_frac"] = ch / total if total > 0 else 0.0
    out["passes_repetition"] = all(
        out[k] <= v for k, v in GOPHER_REP_THRESHOLDS.items()
    )
    return out


def test_repetition_signals_match_python_model(spark):
    """Every cell of the 13-signal vector equals the brute-force model,
    on the fixture corpus PLUS constructed pathologies: duplicated
    lines/paragraphs, a pasted >=10-token passage (fires every
    dup-n-gram signal through overlapping coverage), a hammered bigram,
    and degenerate empty/short docs."""
    from film_media_etl_spark.queries.repetition_signals import (
        repetition_signals,
    )
    from film_media_etl_spark.sources import load_table

    passage = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    rows = [
        (1, "a b c d.\na b c d.\nx y z w."),           # duplicated lines
        (2, "para one here\n\npara one here\n\nzz qq"),  # duplicated paragraphs
        (3, f"u1 u2 {passage} u3 {passage} u4"),        # pasted passage
        (4, "go go go go go stop"),                      # hammered bigram
        (5, ""),                                          # empty
        (6, "one two three"),                             # shorter than n
        (7, None),                                        # null text
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fixture = load_table(spark, "/root/testdata/sf0.001", "documents")
    for frame, texts in (
        (docs, dict(rows)),
        (
            fixture,
            {
                r["doc_id"]: r["text"]
                for r in fixture.select("doc_id", "text").collect()
            },
        ),
    ):
        got = {r["doc_id"]: r.asDict() for r in repetition_signals(frame).collect()}
        assert set(got) == set(texts)
        for did, text in texts.items():
            want = _repetition_model(text)
            have = {k: v for k, v in got[did].items() if k != "doc_id"}
            assert have == want, (did, {
                k: (have[k], want[k]) for k in want if have[k] != want[k]
            })
    # the pathologies actually fire: each constructed doc fails, the
    # clean short docs pass
    got = {r["doc_id"]: r for r in repetition_signals(docs).collect()}
    assert not got[1]["passes_repetition"] and got[1]["dup_line_frac"] > 0.3
    assert not got[2]["passes_repetition"] and got[2]["dup_para_frac"] > 0.3
    assert not got[3]["passes_repetition"] and got[3]["dup_10gram_char_frac"] > 0.1
    assert not got[4]["passes_repetition"] and got[4]["top_2gram_char_frac"] > 0.2
    # degenerate docs: empty/null text yields all-zero signals (passes);
    # a 3-token doc fails the top-2-gram fraction BY CONSTRUCTION (its
    # one bigram covers most of its characters) — the raw-signal
    # behavior Gopher's upstream length gate exists to mask
    assert got[5]["passes_repetition"]
    assert not got[6]["passes_repetition"] and got[6]["top_2gram_char_frac"] > 0.2
    assert got[7]["passes_repetition"]  # null text: all-zero signals


def test_blocklist_each_phrase_fires_and_token_boundaries(spark):
    """The blocklist page gate (round-9): every demo phrase fires, a
    phrase inside a larger token does NOT (the 'class' vs 'ass'
    false-positive family the token-boundary semantics exist to kill),
    newlines count as token boundaries, null text is 'ok' (the shared
    gate's too_short tier owns it), and the empty lexicon is a constant
    'ok' — verified against the DuckDB twin on the same rows."""
    import duckdb

    from film_media_etl_spark.functions import text as TX
    from film_media_etl_spark.queries.blocklist import DEMO_BLOCKLIST

    rows = [
        (0, "we saw a slow query in the log"),          # phrase 1
        (1, "this is big data at work"),                 # phrase 2
        (2, "one spark window per group"),               # phrase 3
        (3, "a slow\nquery split across lines"),         # newline boundary hits
        (4, "bigdata is one token here"),                # no boundary -> miss
        (5, "the slow queryx suffix must not match"),    # suffix -> miss
        (6, "a perfectly clean document"),               # miss
        (7, None),                                       # null -> 'ok'
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["reason"]
        for r in docs.select(
            "doc_id",
            TX.blocklist_reason(F.col("text"), DEMO_BLOCKLIST).alias("reason"),
        ).collect()
    }
    want = {
        0: "blocklisted", 1: "blocklisted", 2: "blocklisted",
        3: "blocklisted", 4: "ok", 5: "ok", 6: "ok", 7: "ok",
    }
    assert got == want
    # the 'ass'-in-'class' family explicitly
    lex = ("ass",)
    g2 = {
        r["doc_id"]: r["reason"]
        for r in spark.createDataFrame(
            [(0, "the class is in session"), (1, "the ass is in the field")],
            "doc_id long, text string",
        ).select(
            "doc_id", TX.blocklist_reason(F.col("text"), lex).alias("reason")
        ).collect()
    }
    assert g2 == {0: "ok", 1: "blocklisted"}
    # empty lexicon: constant 'ok' on every row (the shared-gate default)
    g3 = {
        r["doc_id"]: r["reason"]
        for r in docs.select(
            "doc_id", TX.curation_blocklist_reason(F.col("text")).alias("reason")
        ).collect()
    }
    assert set(g3.values()) == {"ok"}
    # DuckDB twin agrees cell-for-cell on the same rows
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    sql = TX.oracle_blocklist_reason("text", DEMO_BLOCKLIST)
    assert got == {
        r[0]: r[1]
        for r in con.execute(f"SELECT doc_id, {sql} FROM t").fetchall()
    }


def test_blocklist_join_path_matches_expression_path(spark):
    """The broadcast semi-join formulation (the large-lexicon scale
    path) must produce the SAME verdict set as the literal expression
    chain on the fixture corpus — same tokenization, same boundaries,
    one implementation of the semantics carried as data, one as code."""
    from film_media_etl_spark.functions import text as TX
    from film_media_etl_spark.queries.blocklist import (
        DEMO_BLOCKLIST,
        blocklist_join_verdict,
    )
    from film_media_etl_spark.sources import load_table

    docs = load_table(spark, PARITY_SF_DIR, "documents")
    expr = {
        r["doc_id"]: r["hit"]
        for r in docs.select(
            "doc_id",
            F.coalesce(
                TX.blocklist_hit(F.col("text"), DEMO_BLOCKLIST), F.lit(False)
            ).alias("hit"),
        ).collect()
    }
    join = {
        r["doc_id"]: r["blocked"]
        for r in blocklist_join_verdict(docs, DEMO_BLOCKLIST).collect()
    }
    assert expr == join
    assert any(expr.values()) and not all(expr.values())  # both branches live
    # empty lexicon: the join path degenerates to all-False, no join
    empty = blocklist_join_verdict(docs, ())
    assert not any(r["blocked"] for r in empty.collect())


def test_with_blocklist_reason_paths_agree_and_switch(spark):
    """The round-10 path-switching gate builder: the expression path and
    the broadcast semi-join path must yield the SAME reason column on an
    over-cap lexicon, the switch must key on max_expr_phrases, and the
    composed gate (ext_curation_gate_joinpath, forced join path, demo
    lexicon) must equal curation_verdict on the expression path with the
    same lexicon — the in-test twin of the registered query's DuckDB
    oracle pin."""
    from film_media_etl_spark.queries.blocklist import (
        BLOCKLIST_EXPR_MAX_PHRASES,
        DEMO_BLOCKLIST,
        with_blocklist_reason,
    )
    from film_media_etl_spark.queries.semantic_curation import curation_verdict
    from film_media_etl_spark.sources import load_table

    docs = load_table(spark, PARITY_SF_DIR, "documents").select("doc_id", "text")
    # over-cap lexicon: the demo phrases (which fire on the fixture) plus
    # filler phrases of assorted lengths that never match
    big_lex = DEMO_BLOCKLIST + tuple(
        f"zqx{i} filler phrase {'pad ' * (i % 3)}".strip()
        for i in range(BLOCKLIST_EXPR_MAX_PHRASES)
    )
    assert len(big_lex) > BLOCKLIST_EXPR_MAX_PHRASES
    expr = {
        r["doc_id"]: r["blk_reason"]
        for r in with_blocklist_reason(
            docs, big_lex, max_expr_phrases=10**6
        ).collect()
    }
    join = {
        r["doc_id"]: r["blk_reason"]
        for r in with_blocklist_reason(docs, big_lex).collect()  # auto: > cap
    }
    assert expr == join
    assert "blocklisted" in set(expr.values()) and "ok" in set(expr.values())
    # the composed gate: forced join path == expression path, same lexicon
    full = load_table(spark, PARITY_SF_DIR, "documents")
    jp = {
        r["doc_id"]: (r["reject_reason"], r["keep"])
        for r in curation_verdict(
            full, lexicon=DEMO_BLOCKLIST, blocklist_max_expr=0
        ).collect()
    }
    ep = {
        r["doc_id"]: (r["reject_reason"], r["keep"])
        for r in curation_verdict(
            full, lexicon=DEMO_BLOCKLIST, blocklist_max_expr=10**6
        ).collect()
    }
    assert jp == ep
    assert "blocklisted" in {v[0] for v in jp.values()}


def test_repetition_verdict_token_floor(spark):
    """GOPHER_REP_MIN_TOKENS (round-10, advice): the shared verdict
    builder applies the 13-signal battery only at or above Gopher's
    50-word length precondition — a wildly repetitive SHORT document
    passes the tier vacuously (the gate's too_short/quality tiers own
    short docs), the same pattern above the floor fails, and
    min_tokens=0 recovers the raw published-threshold verdict (what
    ext_repetition_signals reports)."""
    from film_media_etl_spark.queries.repetition_signals import (
        GOPHER_REP_MIN_TOKENS,
        with_repetition_verdict,
    )

    short_rep = ("the dog " * 12).strip()  # 24 tokens, top-2gram ~0.9
    long_rep = ("the dog " * 40).strip()   # 80 tokens, same pattern
    assert len(short_rep.split(" ")) < GOPHER_REP_MIN_TOKENS
    assert len(long_rep.split(" ")) >= GOPHER_REP_MIN_TOKENS
    docs = spark.createDataFrame(
        [(1, short_rep), (2, long_rep), (3, None)], "doc_id long, text string"
    )
    floored = {
        r["doc_id"]: r["rep_ok"] for r in with_repetition_verdict(docs).collect()
    }
    assert floored == {1: True, 2: False, 3: True}
    raw = {
        r["doc_id"]: r["rep_ok"]
        for r in with_repetition_verdict(docs, min_tokens=0).collect()
    }
    assert raw == {1: False, 2: False, 3: True}


def test_shard_layout_reconciles_deterministic_and_balanced(spark):
    """ext_shard_layout / ext_shard_manifest (round-10): the manifest
    must reconcile EXACTLY with the layout (per-shard doc/token totals,
    boundary keys == the layout's first/last order keys), positions
    must be a contiguous 1..n_docs sequence per shard, the layout must
    be a pure function of the data (re-run identical), the seed must
    actually reseed placement, and the md5 assignment should spread 500
    docs over 64 shards without gross skew."""
    from film_media_etl_spark.queries import all_queries

    qs = all_queries()
    layout = qs["ext_shard_layout"](spark, PARITY_SF_DIR).collect()
    manifest = {
        r["shard"]: r
        for r in qs["ext_shard_manifest"](spark, PARITY_SF_DIR).collect()
    }
    by_shard: dict[int, list] = {}
    for r in layout:
        by_shard.setdefault(r["shard"], []).append(r)
    assert set(by_shard) == set(manifest)
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r["pos"])
        m = manifest[shard]
        assert [r["pos"] for r in rows] == list(range(1, len(rows) + 1))
        assert m["n_docs"] == len(rows)
        assert m["n_tokens"] == sum(r["n_tokens"] for r in rows)
    # every doc placed exactly once; totals reconcile corpus-wide
    assert sum(m["n_docs"] for m in manifest.values()) == len(layout)
    assert len({r["doc_id"] for r in layout}) == len(layout)
    # deterministic: a second run is row-identical
    again = qs["ext_shard_layout"](spark, PARITY_SF_DIR).collect()
    assert sorted(map(tuple, layout)) == sorted(map(tuple, again))
    # the seed reseeds: placements move (not all docs keep their shard)
    from film_media_etl_spark.queries.shard_layout import shard_layout
    from film_media_etl_spark.sources import load_table

    docs = load_table(spark, PARITY_SF_DIR, "documents")
    reseeded = {
        r["doc_id"]: r["shard"]
        for r in shard_layout(docs, seed="s1").collect()
    }
    base = {r["doc_id"]: r["shard"] for r in layout}
    assert base != reseeded
    # no gross skew: with 500 docs over 64 shards (mean ~7.8), no shard
    # should hold more than ~4x the mean (md5 uniformity, loose bound)
    assert max(m["n_docs"] for m in manifest.values()) <= 32
    # boundary keys frame the shard's internal order and are md5 hex
    for m in manifest.values():
        assert len(m["first_key"]) == 32 and m["first_key"] <= m["last_key"]
