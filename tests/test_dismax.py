"""eDisMax (plans/dismax.py): qf/tie/mm parsing, scoring vs a pure-
Python brute-force model, tie=1 degeneration to the boolean sum,
mm gating, and serving-path parity."""

from __future__ import annotations

import math

import pytest

from golr_loader_spark.config import IndexConfig
from golr_loader_spark.plans.build_index import build_index
from golr_loader_spark.plans.dismax import parse_mm, parse_qf, search_dismax

ROWS = [
    (0, "data query spark engine", "alpha data"),
    (1, "query data spark", "data query"),
    (2, "data query data query runs", "beta build"),
    (3, "spark streaming joins", "spark tools"),
    (4, "unrelated words entirely", "misc entry"),
    (5, "the data query", "gamma data"),
    (6, "sort scan data", "query plan"),
    (7, "span sort query", "delta sort"),
]
SCHEMA = "doc_id long, text string, title string"
K1, B = 1.2, 0.75


@pytest.fixture(scope="module")
def cfg():
    return IndexConfig(
        fields={"text": ("simple", 1.0), "title": ("simple", 1.0)},
        bucket_bits=2, id_space_bits=3,
    )


@pytest.fixture(scope="module")
def ix(spark, cfg):
    return build_index(spark.createDataFrame(ROWS, SCHEMA).cache(), cfg)


def rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def brute_dismax(query, qf, tie, mm):
    """Pure-Python eDisMax over ROWS — the independent model."""
    toks = {f: {} for f in qf}
    for d, text, title in ROWS:
        toks["text"][d] = text.lower().split()
        if "title" in qf:
            toks["title"][d] = title.lower().split()
    n = len(ROWS)
    dl = {f: {d: len(ts) for d, ts in toks[f].items()} for f in qf}
    avgdl = {f: sum(dl[f].values()) / n for f in qf}

    def idf(t, f):
        df = sum(1 for d in toks[f] if t in toks[f][d])
        return math.log(1.0 + (n - df + 0.5) / (df + 0.5)) if df else None

    words = query.split()
    need = parse_mm(mm, len(words))
    out = {}
    for d, _t, _ti in ROWS:
        score, matched = 0.0, 0
        for w in words:
            per_field = []
            hit = False
            for f in sorted(qf):
                i = idf(w, f)
                if i is None:
                    continue
                tf = toks[f][d].count(w)
                if tf:
                    hit = True
                s = (
                    qf[f] * i * (K1 + 1.0) * tf
                    / (tf + K1 * ((1.0 - B) + B * dl[f][d] / avgdl[f]))
                )
                per_field.append(s)
            if not per_field:
                continue
            mx = max(per_field)
            if hit:
                score += mx + tie * (sum(per_field) - mx)
                matched += 1
        if matched >= max(need, 1):
            out[d] = score
    return out


def test_parse_qf_and_mm():
    assert parse_qf("title^2 body") == {"title": 2.0, "body": 1.0}
    assert parse_qf({"a": 3}) == {"a": 3.0}
    assert parse_mm(0, 4) == 0 and parse_mm(3, 4) == 3
    assert parse_mm(-1, 4) == 3
    assert parse_mm("75%", 4) == 3
    assert parse_mm("75%", 5) == 3  # Solr floors percentages
    assert parse_mm("-25%", 4) == 3
    assert parse_mm("100%", 4) == 4
    assert parse_mm(9, 4) == 4  # clamped
    with pytest.raises(ValueError):
        parse_mm("2<75%", 4)
    with pytest.raises(ValueError):
        parse_qf("")


@pytest.mark.parametrize(
    "query,qf,tie,mm",
    [
        ("data query", {"text": 1.0, "title": 2.0}, 0.0, 0),
        ("data query", {"text": 1.0, "title": 2.0}, 0.3, 0),
        ("data query spark", {"text": 1.0, "title": 1.5}, 0.1, 2),
        ("data spark", {"text": 2.0, "title": 1.0}, 0.0, "100%"),
        ("data", {"text": 1.0}, 0.5, 0),
    ],
)
def test_dismax_matches_brute(ix, cfg, query, qf, tie, mm):
    got = dict(rows(search_dismax(ix, query, qf, k=20, tie=tie, mm=mm, cfg=cfg)))
    want = brute_dismax(query, qf, tie, mm)
    assert set(got) == set(want)
    for d in got:
        assert got[d] == pytest.approx(want[d], rel=1e-12), (d, query)


def test_tie_one_equals_boolean_sum(ix, cfg):
    """tie=1 makes the dismax combination the plain per-field sum —
    the disjunctive boolean scorer's semantics."""
    from golr_loader_spark.plans.bm25 import search

    got = dict(rows(search_dismax(
        ix, "data query", {"text": 1.0, "title": 1.0}, k=20, tie=1.0, cfg=cfg
    )))
    want = dict(rows(search(ix, "data query", k=20, cfg=cfg)))
    assert set(got) == set(want)
    for d in got:
        assert got[d] == pytest.approx(want[d], rel=1e-12)


def test_mm_gates_match_count(ix, cfg):
    # 'engine runs': engine -> doc 0 only, runs -> doc 2 only;
    # mm=2 -> no doc matches both
    all_d = {d for d, _s in rows(search_dismax(
        ix, "engine runs", "text title", k=20, mm=0, cfg=cfg
    ))}
    assert all_d == {0, 2}
    assert rows(search_dismax(ix, "engine runs", "text title", k=20, mm=2, cfg=cfg)) == []
    # mm as percentage
    assert rows(search_dismax(ix, "engine runs", "text title", k=20, mm="100%", cfg=cfg)) == []


def test_qf_boost_prefers_title_matches(ix, cfg):
    """With title^5, a title hit must outrank a text-only hit of the
    same word."""
    got = rows(search_dismax(ix, "query", {"text": 1.0, "title": 5.0}, k=20, cfg=cfg))
    # docs with 'query' in title: 1 ('data query'), 6 ('query plan')
    top2 = {d for d, _s in got[:2]}
    assert top2 == {1, 6}


def test_unknown_qf_field_raises(ix, cfg):
    with pytest.raises(ValueError, match="qf field"):
        search_dismax(ix, "data", "nosuch", k=5, cfg=cfg)


def test_serving_dismax_parity(tmp_path, ix, cfg):
    from golr_loader_spark.plans.build_index import write_index
    from golr_loader_spark.plans.serve import LocalSearcher

    root = str(tmp_path / "dmx")
    write_index(ix, root, term_partitions=2)
    ls = LocalSearcher(root, cfg)
    for query, qf, tie, mm in [
        ("data query", "text title^2", 0.0, 0),
        ("data query spark", "text title^1.5", 0.3, 2),
        ("data", "text", 0.5, 0),
        ("engine runs", "text title", 0.0, "100%"),
    ]:
        want = rows(search_dismax(ix, query, qf, k=20, tie=tie, mm=mm, cfg=cfg))
        got = ls.search_dismax(query, qf, k=20, tie=tie, mm=mm)
        assert got == want, (query, qf)


# ---------------------------------------------------------- edismax

def test_edismax_bare_terms_equal_dismax(ix, cfg):
    from golr_loader_spark.plans.dismax import search_edismax

    for q, tie, mm in [("data query", 0.3, 0), ("data query spark", 0.1, 2)]:
        got = rows(search_edismax(ix, q, "text title^2", k=20, tie=tie, mm=mm, cfg=cfg))
        want = rows(search_dismax(ix, q, "text title^2", k=20, tie=tie, mm=mm, cfg=cfg))
        assert got == want, q


def test_edismax_required_and_prohibited(ix, cfg):
    from golr_loader_spark.plans.dismax import search_edismax

    qf = {"text": 1.0, "title": 1.0}
    # +data spark: all docs containing data (any field) — optional
    # spark adds score
    got = dict(rows(search_edismax(ix, "+data spark", qf, k=20, cfg=cfg)))
    base = dict(rows(search_dismax(ix, "data spark", qf, k=20, cfg=cfg)))
    data_docs = {d for d, _s in rows(search_dismax(ix, "data", qf, k=20, cfg=cfg))}
    assert set(got) == data_docs
    for d in got:
        assert got[d] == pytest.approx(base[d], rel=1e-12)
    # -spark data: data docs minus docs with spark in any qf field
    got2 = {d for d, _s in rows(search_edismax(ix, "data -spark", qf, k=20, cfg=cfg))}
    spark_docs = {d for d, _s in rows(search_dismax(ix, "spark", qf, k=20, cfg=cfg))}
    assert got2 == data_docs - spark_docs


def test_edismax_explicit_field_overrides_qf(ix, cfg):
    from golr_loader_spark.plans.dismax import search_edismax

    # title:data scores on title alone (qf boost of title applies)
    got = dict(rows(search_edismax(ix, "title:data", "text title^2", k=20, cfg=cfg)))
    want = dict(rows(search_dismax(ix, "data", {"title": 2.0}, k=20, cfg=cfg)))
    assert set(got) == set(want)
    for d in got:
        assert got[d] == pytest.approx(want[d], rel=1e-12)


def test_edismax_phrase_dismax_across_fields(pix, pcfg):
    from golr_loader_spark.plans.phrase import phrase_search_positional
    from golr_loader_spark.plans.dismax import search_edismax

    pytest.importorskip("numpy")
    # positional two-field index: the module's pix
    tie, bq = 0.25, {"text": 1.0, "title": 2.0}
    got = dict(rows(search_edismax(pix, '"data query"', bq, k=20, tie=tie, cfg=pcfg)))
    pt = {r["doc_id"]: r["score"] * 1.0 for r in phrase_search_positional(
        pix, "data query", k=20, cfg=pcfg, field="text").collect()}
    pti = {r["doc_id"]: r["score"] * 2.0 for r in phrase_search_positional(
        pix, "data query", k=20, cfg=pcfg, field="title").collect()}
    want = {}
    for d in set(pt) | set(pti):
        vals = [pt.get(d, 0.0), pti.get(d, 0.0)]
        mx = max(vals)
        want[d] = mx + tie * (sum(vals) - mx)
    assert set(got) == set(want)
    for d in got:
        assert got[d] == pytest.approx(want[d], rel=1e-12)
    # doc 1 matches the phrase in title only — must be present
    assert 1 in got
    # MUST phrase + optional term keeps all phrase docs
    got2 = dict(rows(search_edismax(pix, 'engine +"data query"', bq, k=20, cfg=pcfg)))
    assert set(got2) == set(want)
    # unsupported node kinds raise
    with pytest.raises(ValueError, match="search_lucene"):
        search_edismax(pix, "dat* query", bq, k=5, cfg=pcfg)


def test_edismax_serving_parity(pix, pcfg, ls_pix):
    from golr_loader_spark.plans.dismax import search_edismax

    ls = ls_pix
    for q, qf, tie, mm in [
        ("data query", "text title^2", 0.3, 0),
        ("+data spark", "text title", 0.0, 0),
        ("data -spark", "text title", 0.0, 0),
        ("title:data spark^2", "text title^2", 0.2, 0),
        ('"data query" engine', "text title^2", 0.25, 0),
        ('engine +"data query"', "text title", 0.1, 0),
        ("data query spark", "text title", 0.0, 2),
    ]:
        want = rows(search_edismax(pix, q, qf, k=20, tie=tie, mm=mm, cfg=pcfg))
        got = ls.search_edismax(q, qf, k=20, tie=tie, mm=mm)
        assert got == want, (q, qf, tie, mm)


def test_fuzz_edismax_serving_parity(pix, pcfg, ls_pix):
    """Randomized edismax fuzz: random term/phrase queries with
    random qf/tie/mm either raise the same error on both paths or
    return identical results (distributed vs serving)."""
    import random

    from golr_loader_spark.plans.dismax import search_edismax

    ls = ls_pix
    rng = random.Random(11)
    vocab = ["data", "query", "spark", "engine", "runs", "build", "plan", "zzz"]

    def clause():
        occ = rng.choice(["", "", "", "+", "-"])
        r = rng.random()
        if r < 0.25:
            ph = " ".join(rng.sample(vocab[:5], 2))
            return f'{occ}"{ph}"'
        w = rng.choice(vocab)
        if r < 0.40:
            return f"{occ}title:{w}"
        if r < 0.50:
            return f"{occ}{w}^2"
        return occ + w

    checked = 0
    for _ in range(25):
        q = " ".join(clause() for _ in range(rng.randint(1, 4)))
        qf = rng.choice(["text title", "text title^2", "text^0.5 title"])
        tie = rng.choice([0.0, 0.2, 1.0])
        mm = rng.choice([0, 1, "50%"])
        try:
            want = rows(search_edismax(pix, q, qf, k=20, tie=tie, mm=mm, cfg=pcfg))
            d_err = None
        except ValueError as e:
            want, d_err = None, str(e)
        try:
            got = ls.search_edismax(q, qf, k=20, tie=tie, mm=mm)
            s_err = None
        except ValueError as e:
            got, s_err = None, str(e)
        assert (d_err is None) == (s_err is None), (q, d_err, s_err)
        if d_err is None:
            assert got == want, (q, qf, tie, mm)
            checked += 1
    assert checked >= 18


# ---------------------------------------------------------------- pf boosting


@pytest.fixture(scope="module")
def pcfg():
    return IndexConfig(
        fields={"text": ("simple", 1.0), "title": ("simple", 1.0)},
        bucket_bits=2, id_space_bits=3, positions=True,
    )


@pytest.fixture(scope="module")
def pix(spark, pcfg):
    return build_index(spark.createDataFrame(ROWS, SCHEMA).cache(), pcfg)


def test_pf_clause_list():
    from golr_loader_spark.plans.dismax import pf_clause_list

    w = ["data", "query", "spark"]
    assert pf_clause_list(w, pf="text^2") == [("data query spark", "text", 2.0, 0)]
    assert pf_clause_list(["solo"], pf="text") == []  # 1 word: no pf
    assert pf_clause_list(w, pf2="title") == [
        ("data query", "title", 1.0, 0),
        ("query spark", "title", 1.0, 0),
    ]
    assert pf_clause_list(w, pf3="text^3", ps=4) == [
        ("data query spark", "text", 3.0, 4)
    ]
    assert pf_clause_list(["a", "b"], pf3="text") == []  # <3 words: no pf3
    # ps2/ps3 default to ps; explicit values override
    assert pf_clause_list(w, pf2="t", ps=2)[0][3] == 2
    assert pf_clause_list(w, pf2="t", ps=2, ps2=5)[0][3] == 5
    with pytest.raises(ValueError):
        pf_clause_list(w, pf="nosuch", cfg=IndexConfig())


def test_pf_boost_is_additive_composition(pix, pcfg):
    """score(pf) − score(base) == pf_boost × phrase_score for every
    doc in the base match set, and the match set is UNCHANGED (the
    main query is the MUST clause of Solr's boosted BooleanQuery)."""
    from golr_loader_spark.plans.phrase import phrase_search_positional

    q, qf, boost = "data query", "text title", 2.5
    base = dict(rows(search_dismax(pix, q, qf, k=20, cfg=pcfg)))
    boosted = dict(
        rows(search_dismax(pix, q, qf, k=20, cfg=pcfg, pf={"text": boost}))
    )
    ph = dict(
        rows(phrase_search_positional(pix, q, k=pix.n_docs, field="text", cfg=pcfg))
    )
    assert set(boosted) == set(base)  # no phrase-only admissions
    for d in base:
        assert boosted[d] == pytest.approx(
            base[d] + boost * ph.get(d, 0.0), rel=1e-12
        ), d


def test_pf2_pf3_sum_over_subphrases(pix, pcfg):
    """pf2/pf3 add one SHOULD clause per consecutive pair/triple —
    deltas equal the Σ boost × subphrase score."""
    from golr_loader_spark.plans.phrase import phrase_search_positional

    q, qf = "data query spark", "text"
    base = dict(rows(search_dismax(pix, q, qf, k=20, cfg=pcfg)))
    boosted = dict(
        rows(
            search_dismax(
                pix, q, qf, k=20, cfg=pcfg, pf2="text^2", pf3="title", ps=1
            )
        )
    )

    def ph(text, field):
        return dict(
            rows(
                phrase_search_positional(
                    pix, text, k=pix.n_docs, field=field, slop=1, cfg=pcfg
                )
            )
        )

    p2a, p2b = ph("data query", "text"), ph("query spark", "text")
    p3 = ph("data query spark", "title")
    for d in base:
        want = (
            base[d]
            + 2.0 * p2a.get(d, 0.0)
            + 2.0 * p2b.get(d, 0.0)
            + 1.0 * p3.get(d, 0.0)
        )
        assert boosted[d] == pytest.approx(want, rel=1e-12), d


def test_pf_promotes_exact_phrase_doc(pix, pcfg):
    """With a large pf boost the exact-phrase docs outrank every
    scrambled-order doc; order within each group is by base rank."""
    got = [
        d
        for d, _s in rows(
            search_dismax(pix, "data query", "text", k=8, cfg=pcfg, pf="text^50")
        )
    ]
    # docs 0,1,2,5 contain the exact phrase 'data query' in text
    assert set(got[:4]) == {0, 1, 2, 5}


def test_pf_ps_slop_admits_transposition(pix, pcfg):
    """ps=2 admits the transposed phrase (Lucene sloppy semantics):
    doc 1 ('query data spark') gains a boost for pf='data query' only
    at ps>=2."""
    tight = dict(
        rows(search_dismax(pix, "data query", "text", k=20, cfg=pcfg, pf="text^10"))
    )
    sloppy = dict(
        rows(
            search_dismax(
                pix, "data query", "text", k=20, cfg=pcfg, pf="text^10", ps=2
            )
        )
    )
    assert sloppy[1] > tight[1]
    assert 4 not in sloppy  # a boost clause never admits new docs


def test_edismax_pf_words_skip_negative_and_fielded(pix, pcfg):
    """edismax pf shingles over bare non-negative words only: the
    boost for 'data query -spark title:engine' equals the boost for
    the plain 'data query' pf clause."""
    from golr_loader_spark.plans.dismax import search_edismax
    from golr_loader_spark.plans.phrase import phrase_search_positional

    q = "data query -spark"
    base = dict(rows(search_edismax(pix, q, "text", k=20, cfg=pcfg)))
    boosted = dict(
        rows(search_edismax(pix, q, "text", k=20, cfg=pcfg, pf="text^3"))
    )
    ph = dict(
        rows(
            phrase_search_positional(
                pix, "data query", k=pix.n_docs, field="text", cfg=pcfg
            )
        )
    )
    assert set(boosted) == set(base)
    for d in base:
        assert boosted[d] == pytest.approx(
            base[d] + 3.0 * ph.get(d, 0.0), rel=1e-12
        ), d


def test_pf_requires_positional_index(ix, cfg):
    with pytest.raises(ValueError, match="positional"):
        search_dismax(ix, "data query", "text", k=5, cfg=cfg, pf="text").collect()


def test_pf_serving_and_sharded_parity(tmp_path, spark, pix, pcfg):
    from golr_loader_spark.plans.build_index import write_index
    from golr_loader_spark.plans.dismax import search_edismax
    from golr_loader_spark.plans.serve import LocalSearcher
    from golr_loader_spark.plans.shard import ShardedSearcher, shard_index

    root = str(tmp_path / "pfx")
    write_index(pix, root, term_partitions=2)
    ls = LocalSearcher(root, pcfg)
    sroots = shard_index(spark, root, str(tmp_path / "pfs"), 2, pcfg)
    ss = ShardedSearcher(sroots, pcfg)
    cases = [
        dict(query="data query", qf="text title^2", pf="text^2"),
        dict(query="data query spark", qf="text", pf="text", pf2="title^2", ps=1),
        dict(query="data query spark", qf="text title", pf3="text^4", ps3=2),
        dict(query="data query", qf="text", pf="text title^3", tie=0.3, mm=1),
    ]
    for c in cases:
        want = rows(search_dismax(pix, k=20, cfg=pcfg, **c))
        assert ls.search_dismax(k=20, **c) == want, ("local", c)
        assert ss.search_dismax(k=20, **c) == want, ("sharded", c)
    # edismax front door, both serving paths
    e = dict(query='data query +spark', qf="text title", pf="text^2", ps=1)
    want = rows(search_edismax(pix, k=20, cfg=pcfg, **e))
    assert ls.search_edismax(k=20, **e) == want
    assert ss.search_edismax(k=20, **e) == want


# ---------------------------------------------------------- plan shape


def test_edismax_must_not_runs_in_the_scorer(ix, cfg, plan_nodes):
    """A term MUST_NOT is dropped inside the one bucket-grouped scorer:
    no second postings decode, no anti-join."""
    from golr_loader_spark.plans.dismax import search_edismax

    df = search_edismax(ix, "data -spark", "text title", k=10, cfg=cfg)
    assert plan_nodes(df).count("FlatMapGroupsInPandas") == 1
    assert "LeftAnti" not in df._jdf.queryExecution().executedPlan().toString()


def test_edismax_unknown_phrase_field_raises_on_both_faces(pix, pcfg, ls_pix):
    from golr_loader_spark.plans.dismax import search_edismax

    for search in (
        lambda q: search_edismax(pix, q, "text", k=5, cfg=pcfg),
        lambda q: ls_pix.search_edismax(q, "text", k=5),
    ):
        with pytest.raises(ValueError, match="unknown field"):
            search('data nosuch:"data query"')


# ---------------------------------------------------------- serving goldens

# sha256 digests (first 16 hex) of the serving face's answers, taken
# from the tree in which LocalSearcher walked dismax/edismax clauses
# with its own copy of the Spark code. Each section maps a case to its
# top-k ([doc_id, score] with ``repr`` floats, an exact round trip) or
# to the error it raised (type and the message up to the face's "use
# ..." hint, which differed between the faces there).
SERVING_GOLDENS = {
    "dismax": "f9e385fa10909249",
    "edismax": "c9f01f26bd127a0e",
    "fuzz": "381622aeb2d6343c",
    "pf": "181719c5b975bf41",
}
DISMAX_CASES = [
    ("data query", "text title^2", 0.0, 0),
    ("data query spark", "text title^1.5", 0.3, 2),
    ("data", "text", 0.5, 0),
    ("engine runs", "text title", 0.0, "100%"),
]
EDISMAX_CASES = [
    ("data query", "text title^2", 0.3, 0),
    ("+data spark", "text title", 0.0, 0),
    ("data -spark", "text title", 0.0, 0),
    ("title:data spark^2", "text title^2", 0.2, 0),
    ('"data query" engine', "text title^2", 0.25, 0),
    ('engine +"data query"', "text title", 0.1, 0),
    ("data query spark", "text title", 0.0, 2),
]
PF_CASES = [
    dict(query="data query", qf="text title^2", pf="text^2"),
    dict(query="data query spark", qf="text", pf="text", pf2="title^2", ps=1),
    dict(query="data query spark", qf="text title", pf3="text^4", ps3=2),
    dict(query="data query", qf="text", pf="text title^3", tie=0.3, mm=1),
]
EDISMAX_PF_CASE = dict(
    query="data query +spark", qf="text title", pf="text^2", ps=1
)


def _fuzz_cases(seed: int = 11, n: int = 25) -> list[tuple]:
    """The (query, qf, tie, mm) stream of test_fuzz_edismax_serving_parity."""
    import random

    rng = random.Random(seed)
    vocab = ["data", "query", "spark", "engine", "runs", "build", "plan", "zzz"]

    def clause():
        occ = rng.choice(["", "", "", "+", "-"])
        r = rng.random()
        if r < 0.25:
            ph = " ".join(rng.sample(vocab[:5], 2))
            return f'{occ}"{ph}"'
        w = rng.choice(vocab)
        if r < 0.40:
            return f"{occ}title:{w}"
        if r < 0.50:
            return f"{occ}{w}^2"
        return occ + w

    cases = []
    for _ in range(n):
        q = " ".join(clause() for _ in range(rng.randint(1, 4)))
        qf = rng.choice(["text title", "text title^2", "text^0.5 title"])
        tie = rng.choice([0.0, 0.2, 1.0])
        mm = rng.choice([0, 1, "50%"])
        cases.append((q, qf, tie, mm))
    return cases


def _served(fn) -> list:
    try:
        return [[int(d), float(s)] for d, s in fn()]
    except ValueError as e:
        return ["error", type(e).__name__, str(e).split(" — ")[0]]


def _digest(obj) -> str:
    import hashlib
    import json

    return hashlib.sha256(
        json.dumps(obj, sort_keys=True).encode()
    ).hexdigest()[:16]


@pytest.fixture(scope="module")
def ls_ix(ix, cfg, tmp_path_factory):
    from golr_loader_spark.plans.build_index import write_index
    from golr_loader_spark.plans.serve import LocalSearcher

    root = str(tmp_path_factory.mktemp("dmx_goldens") / "ix")
    write_index(ix, root, term_partitions=2)
    return LocalSearcher(root, cfg)


@pytest.fixture(scope="module")
def ls_pix(pix, pcfg, tmp_path_factory):
    from golr_loader_spark.plans.build_index import write_index
    from golr_loader_spark.plans.serve import LocalSearcher

    root = str(tmp_path_factory.mktemp("edx_goldens") / "pix")
    write_index(pix, root, term_partitions=2)
    return LocalSearcher(root, pcfg)


def test_serving_goldens(ls_ix, ls_pix):
    def run(search, cases):
        return {
            repr(c): _served(lambda c=c: search(*c[:2], k=20, tie=c[2], mm=c[3]))
            for c in cases
        }

    sections = {
        "dismax": run(ls_ix.search_dismax, DISMAX_CASES),
        "edismax": run(ls_pix.search_edismax, EDISMAX_CASES),
        "fuzz": run(ls_pix.search_edismax, _fuzz_cases()),
        "pf": {
            **{
                repr(c): _served(lambda c=c: ls_pix.search_dismax(k=20, **c))
                for c in PF_CASES
            },
            "edismax": _served(
                lambda: ls_pix.search_edismax(k=20, **EDISMAX_PF_CASE)
            ),
        },
    }
    assert {n: _digest(v) for n, v in sections.items()} == SERVING_GOLDENS


# ---------------------------------------------------------- plan shape


def test_edismax_must_not_runs_in_the_scorer(ix, cfg, plan_nodes):
    """A term MUST_NOT is dropped inside the one bucket-grouped scorer:
    no second postings decode, no anti-join."""
    from golr_loader_spark.plans.dismax import search_edismax

    df = search_edismax(ix, "data -spark", "text title", k=10, cfg=cfg)
    assert plan_nodes(df).count("FlatMapGroupsInPandas") == 1
    assert "LeftAnti" not in df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------- serving goldens

# sha256 digests (first 16 hex) of the serving face's answers, taken
# from the tree in which LocalSearcher walked dismax/edismax clauses
# with its own copy of the Spark code. Each section maps a case to its
# top-k ([doc_id, score] with ``repr`` floats, an exact round trip) or
# to the error it raised (type and the message up to the face's "use
# ..." hint, which differed between the faces there).
SERVING_GOLDENS = {
    "dismax": "f9e385fa10909249",
    "edismax": "c9f01f26bd127a0e",
    "fuzz": "381622aeb2d6343c",
    "pf": "181719c5b975bf41",
}
DISMAX_CASES = [
    ("data query", "text title^2", 0.0, 0),
    ("data query spark", "text title^1.5", 0.3, 2),
    ("data", "text", 0.5, 0),
    ("engine runs", "text title", 0.0, "100%"),
]
EDISMAX_CASES = [
    ("data query", "text title^2", 0.3, 0),
    ("+data spark", "text title", 0.0, 0),
    ("data -spark", "text title", 0.0, 0),
    ("title:data spark^2", "text title^2", 0.2, 0),
    ('"data query" engine', "text title^2", 0.25, 0),
    ('engine +"data query"', "text title", 0.1, 0),
    ("data query spark", "text title", 0.0, 2),
]
PF_CASES = [
    dict(query="data query", qf="text title^2", pf="text^2"),
    dict(query="data query spark", qf="text", pf="text", pf2="title^2", ps=1),
    dict(query="data query spark", qf="text title", pf3="text^4", ps3=2),
    dict(query="data query", qf="text", pf="text title^3", tie=0.3, mm=1),
]
EDISMAX_PF_CASE = dict(
    query="data query +spark", qf="text title", pf="text^2", ps=1
)


def _fuzz_cases(seed: int = 11, n: int = 25) -> list[tuple]:
    """The (query, qf, tie, mm) stream of test_fuzz_edismax_serving_parity."""
    import random

    rng = random.Random(seed)
    vocab = ["data", "query", "spark", "engine", "runs", "build", "plan", "zzz"]

    def clause():
        occ = rng.choice(["", "", "", "+", "-"])
        r = rng.random()
        if r < 0.25:
            ph = " ".join(rng.sample(vocab[:5], 2))
            return f'{occ}"{ph}"'
        w = rng.choice(vocab)
        if r < 0.40:
            return f"{occ}title:{w}"
        if r < 0.50:
            return f"{occ}{w}^2"
        return occ + w

    cases = []
    for _ in range(n):
        q = " ".join(clause() for _ in range(rng.randint(1, 4)))
        qf = rng.choice(["text title", "text title^2", "text^0.5 title"])
        tie = rng.choice([0.0, 0.2, 1.0])
        mm = rng.choice([0, 1, "50%"])
        cases.append((q, qf, tie, mm))
    return cases


def _served(fn) -> list:
    try:
        return [[int(d), float(s)] for d, s in fn()]
    except ValueError as e:
        return ["error", type(e).__name__, str(e).split(" — ")[0]]


def _digest(obj) -> str:
    import hashlib
    import json

    return hashlib.sha256(
        json.dumps(obj, sort_keys=True).encode()
    ).hexdigest()[:16]


@pytest.fixture(scope="module")
def ls_ix(ix, cfg, tmp_path_factory):
    from golr_loader_spark.plans.build_index import write_index
    from golr_loader_spark.plans.serve import LocalSearcher

    root = str(tmp_path_factory.mktemp("dmx_goldens") / "ix")
    write_index(ix, root, term_partitions=2)
    return LocalSearcher(root, cfg)


@pytest.fixture(scope="module")
def ls_pix(pix, pcfg, tmp_path_factory):
    from golr_loader_spark.plans.build_index import write_index
    from golr_loader_spark.plans.serve import LocalSearcher

    root = str(tmp_path_factory.mktemp("edx_goldens") / "pix")
    write_index(pix, root, term_partitions=2)
    return LocalSearcher(root, pcfg)


def test_serving_goldens(ls_ix, ls_pix):
    def run(search, cases):
        return {
            repr(c): _served(lambda c=c: search(*c[:2], k=20, tie=c[2], mm=c[3]))
            for c in cases
        }

    sections = {
        "dismax": run(ls_ix.search_dismax, DISMAX_CASES),
        "edismax": run(ls_pix.search_edismax, EDISMAX_CASES),
        "fuzz": run(ls_pix.search_edismax, _fuzz_cases()),
        "pf": {
            **{
                repr(c): _served(lambda c=c: ls_pix.search_dismax(k=20, **c))
                for c in PF_CASES
            },
            "edismax": _served(
                lambda: ls_pix.search_edismax(k=20, **EDISMAX_PF_CASE)
            ),
        },
    }
    assert {n: _digest(v) for n, v in sections.items()} == SERVING_GOLDENS
