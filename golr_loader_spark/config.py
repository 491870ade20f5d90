"""Engine configuration.

``IndexConfig`` is the analog of the reference's YAML query spec
(`GolrCypherQuery`, /root/reference/src/main/java/org/monarch/golr/
beans/GolrCypherQuery.java:13-46): where golr-loader carried per-field
closure overrides, we carry per-field analyzers and boosts that the
tokenizer and scorer consume.
"""

from __future__ import annotations

from dataclasses import dataclass, field


# BM25 constants fixed by the north rule (BASELINE.json).
BM25_K1 = 1.2
BM25_B = 0.75

# Parquet codec of every table the engine writes (Spark and pyarrow
# writers alike). Iceberg's default: zstd gets about 30% more out of
# varint streams and hex digests than Spark's snappy (BENCH.md). Readers
# take the codec from each column chunk, so roots written with another
# codec still open.
PARQUET_CODEC = "zstd"

_UNSET = object()  # chain-cache sentinel (None is a valid cached value)


@dataclass(frozen=True)
class IndexConfig:
    """Tokenization / index-layout / scoring knobs.

    fields: field name → (analyzer, boost). Analyzers:
      * ``code``  — code-aware: identifiers split on snake_case and
        camelCase, numbers kept, everything lowercased; compound
        identifiers are ALSO emitted whole (the base-field +
        closure-field convention of SolrDocUtil.java:25-44 collapsed
        into one term space).
      * ``path``  — like ``code`` but also splits on ``/ . -``.
      * ``simple`` — whitespace split + lowercase (the DuckDB-oracle
        -friendly analyzer).
    """

    fields: dict[str, tuple[str, float]] = field(
        default_factory=lambda: {"content": ("code", 1.0), "path": ("path", 2.0)}
    )
    k1: float = BM25_K1
    b: float = BM25_B
    # Posting blocks: docs per compressed block (power of two keeps
    # numpy reshape cheap).
    block_size: int = 128
    # Doc-space range buckets (2**bucket_bits). Buckets are a monotone
    # function of doc_id, so per-(term,bucket) posting blocks are
    # globally doc_id-ordered — this is what makes hot-term ("def",
    # "return") posting construction parallel instead of a single
    # giant reduce task: the salt that the north rule mandates.
    bucket_bits: int = 4
    # Minimum term length kept by analyzers.
    min_term_len: int = 1
    # Bit width of the doc_id space: 64 for xxhash64 ids (default);
    # ceil(log2 N) when documents carry dense ids (assign_dense_ids),
    # so range-bucketing splits the dense space evenly.
    id_space_bits: int = 64
    # Index token positions (Lucene IndexOptions.DOCS_AND_FREQS_AND_
    # POSITIONS analog). Each posting gains a varint-delta-encoded
    # position list (count = tf), enabling positional phrase / sloppy
    # phrase on ANY analyzer (the non-positional phrase path only
    # supports the `simple` analyzer via substring verification).
    # Costs ~1 varint per token occurrence of index size; off by
    # default, like choosing DOCS_AND_FREQS in Lucene.
    positions: bool = False
    # Analysis chain (Solr schema.xml filter stack; see
    # functions/analysis.py for exact semantics + the SQL twin):
    #   stopwords — dropped with position gaps preserved
    #     (StopFilterFactory, enablePositionIncrements=true);
    #   stem — None or "minimal_english" (EnglishMinimalStemFilter-
    #     style plural stemmer, restateable in ANSI SQL);
    #   synonyms — single-token groups expanded at INDEX time at the
    #     same position (SynonymFilter, posinc=0); injected tokens do
    #     not count toward dl (Lucene discountOverlaps).
    # One chain per index, applied to every configured field.
    stopwords: tuple = ()
    stem: str | None = None
    synonyms: tuple = ()
    # QUERY-TIME synonym expansion (Solr SynonymGraphFilter on the
    # query analyzer — the side that supports MULTI-WORD rules, which
    # index-time injection cannot): tuple of (source, target) pairs,
    # either side may be a multi-word phrase. Applied by
    # plans.lucene.expand_synonyms after parsing: a matched source
    # span becomes a SHOULD group of alternatives (original ∪
    # targets), multi-word alternatives as phrases. Independent of
    # the index-time ``synonyms`` chain stage.
    query_synonyms: tuple = ()

    @property
    def n_buckets(self) -> int:
        return 1 << self.bucket_bits

    @property
    def chain(self):
        """AnalysisChain for this config, or None when stopwords/
        stem/synonyms are all unset (the default — zero overhead,
        plans unchanged). Cached per instance (frozen dataclass, so
        the inputs can't change under the cache)."""
        got = self.__dict__.get("_chain_cache", _UNSET)
        if got is _UNSET:
            from golr_loader_spark.functions.analysis import build_chain

            got = build_chain(
                self.stopwords, self.stem, self.synonyms, self.min_term_len
            )
            object.__setattr__(self, "_chain_cache", got)
        return got

    def to_dict(self) -> dict:
        return {
            "fields": {
                name: {"analyzer": an, "boost": float(boost)}
                for name, (an, boost) in self.fields.items()
            },
            "k1": self.k1,
            "b": self.b,
            "block_size": self.block_size,
            "bucket_bits": self.bucket_bits,
            "min_term_len": self.min_term_len,
            "id_space_bits": self.id_space_bits,
            "positions": self.positions,
            "stopwords": list(self.stopwords),
            "stem": self.stem,
            "synonyms": [list(g) for g in self.synonyms],
            "query_synonyms": [list(g) for g in self.query_synonyms],
        }

    @classmethod
    def from_dict(cls, d: dict) -> "IndexConfig":
        kwargs = {k: d[k] for k in (
            "k1", "b", "block_size", "bucket_bits", "min_term_len",
            "id_space_bits", "positions", "stem",
        ) if k in d}
        if "fields" in d:
            kwargs["fields"] = {
                name: (spec["analyzer"], float(spec.get("boost", 1.0)))
                for name, spec in d["fields"].items()
            }
        if "stopwords" in d:
            kwargs["stopwords"] = tuple(d["stopwords"])
        if "synonyms" in d:
            kwargs["synonyms"] = tuple(tuple(g) for g in d["synonyms"])
        if "query_synonyms" in d:
            kwargs["query_synonyms"] = tuple(
                tuple(g) for g in d["query_synonyms"]
            )
        return cls(**kwargs)


@dataclass(frozen=True)
class QuerySpec:
    """YAML-loadable query spec — the analog of the reference's
    GolrCypherQuery bean (beans/GolrCypherQuery.java:13-46), whose
    YAML round-trip is pinned by YamlSerializationTest.java:32-40:
    there a cypher string plus per-field directed-relationship
    overrides; here a registry query name plus an IndexConfig and
    per-field closure overrides (the X3 surface of golr_flatten)."""

    query: str
    config: IndexConfig = field(default_factory=IndexConfig)
    closure_overrides: dict[str, list[str]] = field(default_factory=dict)

    def to_yaml(self) -> str:
        import yaml

        doc = {"query": self.query, **self.config.to_dict()}
        if self.closure_overrides:
            doc["closure_overrides"] = {
                k: list(v) for k, v in self.closure_overrides.items()
            }
        return yaml.safe_dump(doc, sort_keys=False)

    @classmethod
    def from_yaml(cls, text: str) -> "QuerySpec":
        import yaml

        d = yaml.safe_load(text)
        return cls(
            query=d["query"],
            config=IndexConfig.from_dict(d),
            closure_overrides={
                k: list(v)
                for k, v in (d.get("closure_overrides") or {}).items()
            },
        )

    def save(self, path: str) -> None:
        with open(path, "w") as f:
            f.write(self.to_yaml())

    @classmethod
    def load(cls, path: str) -> "QuerySpec":
        with open(path) as f:
            return cls.from_yaml(f.read())
