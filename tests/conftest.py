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
    """Block-table fingerprints the flat token-row build (hash-exchange
    of token rows, Tungsten sort, streaming encoder) produced for the
    build-parity inputs, before that build was removed. Inputs:
    ``synth_corpus(1200, seed=42, partitions=6)`` flattened, with dense
    ids (``bucket_bits=4, id_space_bits=11``, plain and positional) or
    64-bit hash ids (``bucket_bits=5``); and the skewed-vocabulary
    positional corpus of tests/test_packed_spill.py."""
    return {
        "dense": (9340, 187652, "0910ebbde854b169"),
        "dense_positional": (9340, 187652, "3a3925a374528396"),
        "hash_ids": (26060, 187652, "23649f12c1b310d7"),
        "skewed_positional": (600, 1536, "f13898de7a54f8da"),
    }


def _plan_nodes(df) -> list[str]:
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    return [m.group(1) for m in re.finditer(r"^[\s+\-:]*(\w+)", plan, re.M)]


@pytest.fixture(scope="session")
def plan_nodes():
    """Operator names of a DataFrame's physical plan, top down."""
    return _plan_nodes
