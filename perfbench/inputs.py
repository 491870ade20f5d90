"""Seeded inputs: the corpus, the query stream and the upsert batches.

Everything here is a pure function of the seed and the corpus, so the
same seed gives the same inputs. The engine only ever sees the results.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

# shape of the query stream
PHRASE_EVERY = 10  # every 10th item is a search_phrase: each run of ten
# consecutive items holds the same mix
AND_SHARE = 1 / 3  # share of bm25 items sent as AND
ZIPF_S = 1.1  # exponent of the term draw over the df rank
PHRASES = 200  # windows in the phrase pool


@dataclass(frozen=True)
class Query:
    kind: str  # "bm25" or "phrase"
    text: str
    mode: str = "or"  # "or" / "and" for bm25


def make_corpus(spark, n_docs: int, seed: int, partitions: int):
    """Flattened, persisted corpus of ``n_docs`` rows (hash doc ids)."""
    from golr_loader_spark.corpus import synth_corpus
    from golr_loader_spark.plans.documents import flatten_documents

    docs = flatten_documents(
        synth_corpus(spark, n_docs, seed=seed, partitions=partitions)
    ).persist()
    docs.count()
    return docs


def vocabulary(index) -> list[str]:
    """Content-field terms by descending document frequency — the rank
    order the Zipf draw uses."""
    rows = (
        index.term_stats.filter("field = 'content'").select("term", "df").collect()
    )
    rows.sort(key=lambda r: (-int(r["df"]), r["term"]))
    return [r["term"] for r in rows]


def phrase_pool(docs, seed: int, n_docs: int) -> list[str]:
    """``PHRASES`` 2–3-word windows cut from the content of seeded
    documents."""
    from pyspark.sql import functions as F

    rng = np.random.RandomState(seed)
    ids = sorted({int(i) for i in rng.randint(0, n_docs, size=PHRASES)})
    texts = [
        r["content"]
        for r in docs.filter(F.col("doc_id").isin(ids))
        .orderBy("doc_id")
        .select("content")
        .collect()
    ]
    out = []
    for i in range(PHRASES):
        words = texts[i % len(texts)].split()
        width = int(rng.randint(2, 4))
        if len(words) < width:
            continue
        start = int(rng.randint(0, len(words) - width + 1))
        out.append(" ".join(words[start : start + width]))
    return out


def query_stream(vocab: list[str], phrases: list[str], seed: int, n: int) -> list[Query]:
    """``n`` queries: 1–4 distinct terms drawn Zipf over ``vocab``
    (OR, or AND for ``AND_SHARE`` of them), with every
    ``PHRASE_EVERY``-th item taken from ``phrases`` instead."""
    rng = np.random.RandomState(seed)
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = 1.0 / ranks**ZIPF_S
    p /= p.sum()
    out = []
    for i in range(n):
        if phrases and i % PHRASE_EVERY == PHRASE_EVERY - 1:
            out.append(Query("phrase", phrases[rng.randint(len(phrases))]))
            continue
        k = min(int(rng.randint(1, 5)), len(vocab))
        terms = rng.choice(len(vocab), size=k, replace=False, p=p)
        mode = "and" if rng.random_sample() < AND_SHARE else "or"
        out.append(Query("bm25", " ".join(vocab[t] for t in terms), mode))
    return out
