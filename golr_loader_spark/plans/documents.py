"""Corpus → denormalized indexable documents.

The analog of golr-loader's row flattener
(GolrLoader.serializerRow, /root/reference/src/main/java/org/monarch/
golr/GolrLoader.java:571-703): each input row becomes one flat
document carrying the base fields plus *closure* multi-valued fields,
mirroring the reference's ``field`` / ``field_closure`` convention
(SolrDocUtil.java:25-44). Closures here are hierarchical expansions
of code metadata:

  * path_closure — every path prefix (``a/b/c.py`` → ``a``, ``a/b``,
    ``a/b/c.py``), the partonomy analog of ClosureUtil's BFS closure
    (ClosureUtil.java:88-114) for the strictly-hierarchical path case;
  * repo_closure — ``org`` and ``org/repo`` ancestry;
  * lang_closure — language + language family.

All pure Catalyst expressions: no shuffle, no Python. ``doc_id`` is
``xxhash64(repo, path, commit)`` — deterministic under any
partitioning (SURVEY.md §7 stage 2; ``monotonically_increasing_id``
would not be stable across runs).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# language → family, the lang→lang-family closure edge set
LANG_FAMILY = {
    "py": "scripting",
    "js": "scripting",
    "java": "jvm",
    "scala": "jvm",
    "c": "native",
    "go": "native",
    "rs": "native",
    "md": "docs",
}


def path_closure(col: Column) -> Column:
    """All '/'-prefixes of a path, shortest→longest (BFS-order analog:
    ClosureTest.java:25-26 asserts discovery order; for a chain the
    discovery order is depth order)."""
    segs = F.split(col, "/")
    return F.transform(
        F.sequence(F.lit(1), F.size(segs)),
        lambda i: F.array_join(F.slice(segs, F.lit(1), i), "/"),
    )


def flatten_documents(corpus: DataFrame) -> DataFrame:
    """(repo, path, commit, lang, content) → documents.

    Adds: doc_id, content_sha256 (per-row invariant vs the reference,
    BASELINE.json input_hint), doc closures, char length.
    """
    lang_family = F.element_at(
        F.create_map(*[F.lit(x) for kv in LANG_FAMILY.items() for x in kv]),
        F.col("lang"),
    )
    org = F.split_part(F.col("repo"), F.lit("/"), F.lit(1))
    return corpus.select(
        F.xxhash64("repo", "path", "commit").alias("doc_id"),
        "repo",
        "path",
        "commit",
        "lang",
        "content",
        F.sha2(F.col("content"), 256).alias("content_sha256"),
        F.array(org, F.col("repo")).alias("repo_closure"),
        path_closure(F.col("path")).alias("path_closure"),
        F.array_distinct(
            F.array(F.col("lang"), F.coalesce(lang_family, F.col("lang")))
        ).alias("lang_closure"),
        F.length("content").alias("content_len"),
    )


def assign_dense_ids(
    documents: DataFrame,
    range_buckets: int = 1024,
    broadcast_threshold: int = 2_000_000,
) -> DataFrame:
    """Replace hash doc_ids with DENSE deterministic ids 0..N-1.

    Dense ids make posting deltas small (1-2 varint bytes instead of
    ~8 for 64-bit-hash gaps) — a 4-8× id-stream compression win at
    corpus scale. Deterministic and scalable without a global sort:

      1. range-bucket rows by the high bits of the hash id (uniform,
         monotone) — ``range_buckets`` parallel groups;
      2. count per bucket (tiny driver-side cumulative offsets); the
         same job counts (doc_id, repo, path, commit) keys held by
         more than one row, and any such key raises ``ValueError``;
      3. row_number within each bucket ordered by (hash, repo, path,
         commit) — the tie-break makes order total even under hash
         collisions;
      4. dense_id = bucket_offset + row_number - 1, the offset joined
         on the bucket.

    The mapping is a pure function of the corpus content — identical
    across runs and partitionings. The original hash id is kept as
    ``doc_hash`` (join key back to external systems). Pair with
    ``IndexConfig(id_space_bits=ceil(log2 N))`` so doc-range
    bucketing splits the dense space evenly.

    **Plan shape** (optimization guide §8: decide with small rows,
    move big rows once): the row_number window runs over a NARROW
    projection (doc_id, repo, path, commit) — never over ``content``
    — and the resulting (keys → dense_id) mapping is broadcast-joined
    back, so the document payload is NOT shuffled at all. The step-2
    count pass already tells the driver N exactly, so the broadcast
    decision costs nothing; above ``broadcast_threshold`` rows the
    mapping would strain driver/executor memory and the code falls
    back to the window-over-full-rows plan (one payload shuffle —
    the same cost a doc_id-keyed merge join would pay anyway). On
    both plans the step-2 offsets reach the executors as a
    ``(_rb, _off)`` relation of at most ``range_buckets`` rows, built
    from one Arrow batch (a ``LocalTableScan``) and broadcast-joined
    on ``_rb`` after the window: no per-offset literal, no
    Python-worker stage, and the window stays partitioned by ``_rb``.
    """
    from pyspark.sql import Window

    bits = max(1, (range_buckets - 1).bit_length())
    rb = F.shiftrightunsigned(F.col("doc_id"), 64 - bits)
    keys = ["doc_id", "repo", "path", "commit"]
    narrow = documents.select(*keys).withColumn("_rb", rb)
    # per-range counts, and in the same job the number of full keys
    # held by more than one row: such rows would each match every
    # mapping row of their key in the attach below and come out twice
    per_range = (
        narrow.groupBy("_rb", *keys)
        .agg(F.count("*").alias("c"))
        .groupBy("_rb")
        .agg(
            F.sum("c").alias("n"),
            F.count(F.when(F.col("c") > 1, 1)).alias("dup_keys"),
        )
        .collect()
    )
    dup_keys = sum(int(r["dup_keys"]) for r in per_range)
    if dup_keys:
        raise ValueError(
            f"assign_dense_ids: {dup_keys} duplicate (doc_id, repo, path, "
            "commit) keys; deduplicate the documents first"
        )
    # (_rb, n) in range order → (_rb, _off) as one Arrow batch
    rb_n = np.array(
        sorted((int(r["_rb"]), int(r["n"])) for r in per_range), dtype=np.int64
    ).reshape(-1, 2)
    n_rb = rb_n[:, 1]
    offsets = F.broadcast(
        documents.sparkSession.createDataFrame(
            pa.table({"_rb": rb_n[:, 0], "_off": np.cumsum(n_rb) - n_rb})
        )
    )
    dense = (F.col("_off") + F.col("_rn") - 1).cast("long")
    w = Window.partitionBy("_rb").orderBy("doc_id", "repo", "path", "commit")
    if int(n_rb.sum()) <= broadcast_threshold:
        mapping = (
            narrow.withColumn("_rn", F.row_number().over(w))
            .join(offsets, "_rb")
            .select(
                F.col("doc_id").alias("_m_hash"),
                F.col("repo").alias("_m_repo"),
                F.col("path").alias("_m_path"),
                F.col("commit").alias("_m_commit"),
                dense.alias("_m_dense"),
            )
        )
        # 4-key equi-join (not doc_id alone): under a hash collision
        # two docs share doc_id but get DISTINCT dense ids — the full
        # key keeps the attach exact, matching the window tie-break.
        # NULL-safe, so a row with a NULL repo/path/commit keeps its id
        # (the duplicate count's groupBy treats NULLs as equal too)
        joined = documents.join(
            F.broadcast(mapping),
            F.col("doc_id").eqNullSafe(F.col("_m_hash"))
            & F.col("repo").eqNullSafe(F.col("_m_repo"))
            & F.col("path").eqNullSafe(F.col("_m_path"))
            & F.col("commit").eqNullSafe(F.col("_m_commit")),
        )
        return joined.select(
            *[
                F.col("_m_dense").alias("doc_id") if c == "doc_id" else F.col(c)
                for c in documents.columns
            ],
            F.col("_m_hash").alias("doc_hash"),
        )
    # fallback at mapping sizes past broadcastability: the original
    # window-over-full-rows plan (payload shuffled once, by _rb)
    return (
        documents.withColumn("_rb", rb)
        .withColumn("_rn", F.row_number().over(w))
        .join(offsets, "_rb")
        .select(
            *[dense.alias("doc_id") if c == "doc_id" else F.col(c)
              for c in documents.columns],
            F.col("doc_id").alias("doc_hash"),
        )
    )


def check_doc_id_collisions(documents: DataFrame) -> int:
    """Return number of colliding doc_ids (expected 0; SURVEY.md §7
    risk (3) — hash-based ids must be collision-checked)."""
    return (
        documents.groupBy("doc_id").count().filter(F.col("count") > 1).count()
    )
