from __future__ import annotations

import pytest

from golr_loader_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=8, app_name="golr-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


def _block_fingerprint(df) -> tuple[int, int, str]:
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    r = df.agg(
        F.count("*").alias("blocks"),
        F.sum("n").alias("postings"),
        F.bit_xor(F.xxhash64(*cols)).alias("fp"),
    ).collect()[0]
    return int(r["blocks"]), int(r["postings"]), f"{int(r['fp']) & (2**64 - 1):016x}"


@pytest.fixture(scope="session")
def block_fingerprint():
    """(blocks, postings, xor of xxhash64 over the sorted columns) of a
    block table — equal fingerprints mean equal tables up to row order."""
    return _block_fingerprint


@pytest.fixture(scope="session")
def flat_goldens() -> dict[str, tuple[int, int, str]]:
    """Block-table fingerprints of the build-parity inputs in the norms
    layout (per-field doc lengths in norms lists). What these tables
    decode to is pinned by ``logical_goldens``, recorded from the flat
    token-row build's (hash-exchange of token rows, Tungsten sort,
    streaming encoder) tables, before that build was removed. Inputs:
    ``synth_corpus(1200, seed=42, partitions=6)`` flattened, with dense
    ids (``bucket_bits=4, id_space_bits=11``, plain and positional) or
    64-bit hash ids (``bucket_bits=5``); and the skewed-vocabulary
    positional corpus of tests/test_packed_spill.py."""
    return {
        "dense": (9360, 190052, "1cff74edbc738ad1"),
        "dense_positional": (9360, 190052, "c94083fdc8896090"),
        "hash_ids": (26124, 190052, "4fb0706937797e47"),
        "skewed_positional": (632, 2048, "3850608c3514175a"),
    }


def _digest(parts) -> str:
    import hashlib

    import numpy as np

    h = hashlib.sha256()
    for p in parts:
        if isinstance(p, np.ndarray):
            h.update(np.ascontiguousarray(p.astype(np.int64)).tobytes())
        else:
            h.update("\x00".join(p).encode())
        h.update(b"|")
    return h.hexdigest()[:16]


def _logical_digests(blocks) -> tuple[str, str]:
    """(decoded posting rows, block metadata) digests of a block table
    (Spark DataFrame or pyarrow Table), independent of where dl is
    stored: rows are (term, field, bucket, segment, doc_id, tf, dl,
    positions) with dl read from the norms lists, and the metadata is
    (term, field, bucket, segment, block_id, n, doc_id_first, max_tf,
    min_dl, tf_sum) per block; norms blocks are left out of both."""
    import numpy as np
    import pandas as pd

    from golr_loader_spark.functions.codec import varint_decode
    from golr_loader_spark.plans.build_index import NORMS_TERM
    from golr_loader_spark.plans.phrase import _decode_positions

    pdf = blocks.toPandas() if hasattr(blocks, "toPandas") else blocks.to_pandas()
    if "segment" not in pdf:
        pdf["segment"] = 0
    pdf["segment"] = pdf["segment"].fillna(0)
    pdf = pdf.sort_values(
        ["term", "field", "bucket", "segment", "block_id"], kind="stable"
    ).reset_index(drop=True)
    n = pdf["n"].to_numpy(np.int64)
    g = np.cumsum(varint_decode(b"".join(pdf["doc_ids"])).astype(np.int64))
    ids = g + np.repeat(pdf["doc_id_first"].to_numpy(np.int64) - g[np.cumsum(n) - n], n)
    tfs = varint_decode(b"".join(pdf["tfs"])).astype(np.int64)

    def rep(c):
        return np.repeat(pdf[c].to_numpy(), n)

    post = pd.DataFrame({
        "term": rep("term"), "field": rep("field"),
        "bucket": rep("bucket").astype(np.int64),
        "segment": rep("segment").astype(np.int64), "doc_id": ids, "tf": tfs,
    })
    blk_norm = (pdf["term"] == NORMS_TERM).to_numpy()
    in_norms = np.repeat(blk_norm, n)
    nb = pdf[blk_norm]
    nn = nb["n"].to_numpy(np.int64)
    norms = pd.DataFrame({
        "field": np.repeat(nb["field"].to_numpy(), nn),
        "segment": np.repeat(nb["segment"].to_numpy(), nn).astype(np.int64),
        "doc_id": ids[in_norms],
        "dl": varint_decode(b"".join(nb["dls"])).astype(np.int64),
    })
    post = post.merge(
        norms, on=["field", "segment", "doc_id"], how="left", validate="many_to_one"
    )[~in_norms]
    assert not post["dl"].isna().any(), "a posting without a norms entry"
    rows = [
        list(post["term"]), list(post["field"]),
        *(post[c].to_numpy() for c in ("bucket", "segment", "doc_id", "tf")),
        post["dl"].to_numpy().astype(np.int64),
    ]
    if "poss" in pdf:
        rows.append(
            _decode_positions(b"".join(pdf["poss"]), tfs)[np.repeat(~in_norms, tfs)]
        )
    b = pdf[~blk_norm]
    meta = [list(b["term"]), list(b["field"])] + [
        b[c].to_numpy() for c in ("bucket", "segment", "block_id", "n",
                                  "doc_id_first", "max_tf", "min_dl", "tf_sum")
    ]
    return _digest(rows), _digest(meta)


@pytest.fixture(scope="session")
def logical_digests():
    """``_logical_digests``: what a block table decodes to, whatever its
    physical layout."""
    return _logical_digests


@pytest.fixture(scope="session")
def logical_goldens() -> dict[str, tuple[str, str]]:
    """``_logical_digests`` of the ``flat_goldens`` inputs' block tables,
    recorded when every posting still stored its own dl: the norms
    layout must decode to the same postings and block metadata."""
    return {
        "dense": ("54fc3755c44a2818", "c04f0412873d4eb9"),
        "dense_positional": ("590d66cd890dd14c", "c04f0412873d4eb9"),
        "hash_ids": ("d8c0f3fcf712ec1a", "bc91715150d2891f"),
        "skewed_positional": ("4ef34cfac7cf5001", "14cab3b17d4798fc"),
    }


def _plan_nodes(df) -> list[str]:
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    return [m.group(1) for m in re.finditer(r"^[\s+\-:]*(\w+)", plan, re.M)]


@pytest.fixture(scope="session")
def plan_nodes():
    """Operator names of a DataFrame's physical plan, top down."""
    return _plan_nodes
