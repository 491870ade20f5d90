"""Arrow-vectorized code-aware tokenizer.

The UDTF-shaped stage (one document row → many ``(doc_id, field,
term, tf)`` rows) that replaces Solr's analyzer chain — the half of
the pipeline golr-loader delegated at GolrLoader.java:498-515. Runs
as ``mapInPandas``; inside, all string work is pandas ``str`` ops
(findall / explode / groupby-size) — no per-row Python loops.

Analyzers (IndexConfig.fields):
  * ``code`` / ``path`` — extract identifier/number tokens, split
    snake_case and camelCase into subtokens, lowercase; compound
    identifiers are ALSO emitted whole (the base-field + closure-field
    convention of SolrDocUtil.java:25-44 collapsed into one term
    space: ``user_data`` indexes as ``user_data``, ``user``, ``data``).
  * ``simple`` — whitespace split + lowercase (ANSI-SQL-expressible;
    used for the DuckDB oracle parity queries).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from golr_loader_spark.config import IndexConfig

TOKENS_SCHEMA = "doc_id long, field string, term string, tf int, dl int"
# positional variant (IndexConfig.positions): per (doc, term) row a
# varint-delta-encoded sorted position list, count = tf
TOKENS_SCHEMA_POS = TOKENS_SCHEMA + ", positions binary"

# raw lexical tokens: identifiers (incl. _) or integer literals
_RAW_TOKEN = r"[A-Za-z_][A-Za-z0-9_]*|[0-9]+"
# subword split: ALLCAPS runs, CamelCase words, lowercase/digit runs
_SUBWORD = r"[A-Z]+(?![a-z])|[A-Z][a-z0-9]*|[a-z0-9]+"


def _encode_pos_lists(cpos: np.ndarray, group_starts: np.ndarray) -> list[bytes]:
    """Group-sorted token positions → per-group varint blobs (first
    value absolute, then ascending deltas). One vectorized encode over
    the whole batch; the final slice-up is O(output rows)."""
    from golr_loader_spark.functions.codec import positions_encode

    if len(cpos) == 0:
        return []
    counts = np.diff(np.append(group_starts, len(cpos)))
    stream, seg = positions_encode(cpos, counts)
    offs = np.concatenate([[0], np.cumsum(seg)])
    blob = stream.tobytes()
    return [blob[offs[i]: offs[i + 1]] for i in range(len(seg))]


def _empty_tokens(positional: bool) -> pd.DataFrame:
    cols = {"pos": [], "term": [], "tf": [], "dl": []}
    if positional:
        cols["positions"] = []
    return pd.DataFrame(cols)


def _chain_flat(chain, term_vocab, out_pos, tkey, tokpos):
    """Apply an analysis chain (functions/analysis.py) to the flat
    per-occurrence arrays both analyzers reduce to: ``term_vocab``
    (distinct term strings), ``tkey`` (per-instance vocab code),
    ``out_pos`` (per-instance doc index), ``tokpos`` (per-instance
    token position, positional only). All chain work is vectorized at
    the VOCAB level (thousands of entries), then mapped back to the
    instance arrays (millions) with pure integer indexing.

    Steps: length+stopword filter (pre-stem form) → stem + recode
    (stem collisions merge into one term code, so position lists of
    "test" and "tests" coalesce) → index-time synonym injection at
    the same token position. Returns (term_vocab, out_pos, tkey,
    tokpos, syn_active); syn_active tells the aggregator to dedupe
    pathological (doc, term, pos) collisions (module docstring of
    functions/analysis.py)."""
    vkeep, vstr = chain.map_vocab(term_vocab)
    keep = vkeep[tkey]
    if not keep.all():
        out_pos, tkey = out_pos[keep], tkey[keep]
        if tokpos is not None:
            tokpos = tokpos[keep]
    codes2, uniq2 = pd.factorize(pd.Series(vstr, dtype=object), sort=False)
    term_vocab = np.asarray(uniq2, dtype=object)
    tkey = codes2[tkey]
    syn_active = False
    exp = chain.expansion(term_vocab) if chain.synonyms else None
    if exp is not None:
        term_vocab, exp_counts, exp_flat = exp
        inst_counts = exp_counts[tkey]
        total_extra = int(inst_counts.sum())
        if total_extra:
            syn_active = True
            exp_offs = np.cumsum(exp_counts) - exp_counts
            starts_e = np.repeat(exp_offs[tkey], inst_counts)
            within_e = np.arange(total_extra) - np.repeat(
                np.cumsum(inst_counts) - inst_counts, inst_counts
            )
            extra_tkey = exp_flat[starts_e + within_e]
            extra_pos = np.repeat(out_pos, inst_counts)
            if tokpos is not None:
                tokpos = np.concatenate(
                    [tokpos, np.repeat(tokpos, inst_counts)]
                )
            out_pos = np.concatenate([out_pos, extra_pos])
            tkey = np.concatenate([tkey, extra_tkey])
    return term_vocab, out_pos, tkey, tokpos, syn_active


def _agg_flat(
    term_vocab, out_pos, tkey, tokpos, dl_minlen, positional, dedupe=False,
    raw=False,
):
    """(instance arrays) → the analyzer output DataFrame: tf/dl
    aggregation on integer keys (doc × vocab code), no string
    groupby. dl = per-doc instance count (Σ tf over the doc's rows —
    the invariant downstream corpus stats rely on; synonym-injected
    instances count, see functions/analysis.py).

    ``raw=True`` (the mapInArrow tokenizer's path) skips ALL per-row
    Python objects — no term-string fancy-index, no per-row position
    bytes, no pandas frame — and returns the integer/array form
    {pos, codes, vocab, tf, dl, cpos}; the caller assembles Arrow
    columns straight from these buffers."""
    L = max(len(term_vocab), 1)
    combined = out_pos * L + tkey
    if not positional:
        uniq_keys, tf = np.unique(combined, return_counts=True)
        gstart = cpos = None
    else:
        # ONE sort instead of three: lexsort((tokpos, combined)) is two
        # stable argsort passes and np.unique(combined) re-sorts — a
        # composite (combined, tokpos) int64 key needs a single argsort
        # and group boundaries fall out of a diff over the sorted
        # combined. Profiled 2× faster on realistic batches; falls back
        # to the lexsort shape only if the composite could overflow
        # int64 (pathological vocab × doc-length products).
        P = int(tokpos.max()) + 1 if len(tokpos) else 1
        cmax = int(combined.max()) + 1 if len(combined) else 1
        if cmax < (1 << 62) // max(P, 1):
            # introsort, not stable: the composite key is unique except
            # for synonym-injected (doc, term, pos) collisions, where
            # equal keys carry identical values and the dedupe pass
            # below drops them whichever order they land in
            order = np.argsort(combined * P + tokpos)
            combined, cpos = combined[order], tokpos[order]
        else:
            order = np.lexsort((tokpos, combined))
            combined, cpos = combined[order], tokpos[order]
        if dedupe and len(combined):
            dup = np.zeros(len(combined), dtype=bool)
            dup[1:] = (combined[1:] == combined[:-1]) & (
                cpos[1:] == cpos[:-1]
            )
            if dup.any():
                combined, cpos = combined[~dup], cpos[~dup]
        if len(combined):
            gstart = np.flatnonzero(
                np.diff(combined, prepend=combined[0] - 1) != 0
            )
            uniq_keys = combined[gstart]
            tf = np.diff(np.append(gstart, len(combined)))
        else:
            gstart = uniq_keys = tf = np.empty(0, dtype=np.int64)
    agg_pos = uniq_keys // L
    dl = np.bincount(out_pos, minlength=dl_minlen)
    if raw:
        return {
            "pos": agg_pos.astype(np.int64),
            "codes": (uniq_keys % L).astype(np.int64),
            "vocab": term_vocab,
            "tf": np.asarray(tf, dtype=np.int64),
            "dl": dl[agg_pos].astype(np.int32),
            "cpos": cpos if positional else None,
        }
    agg_term = (
        term_vocab[uniq_keys % L]
        if len(term_vocab)
        else np.array([], dtype=object)
    )
    out = pd.DataFrame(
        {
            "pos": agg_pos,
            "term": agg_term,
            "tf": tf.astype(np.int32),
            "dl": dl[agg_pos].astype(np.int32),
        }
    )
    if positional:
        out["positions"] = _encode_pos_lists(cpos, gstart)
    return out


def _code_tokens(
    texts: pd.Series, positional: bool = False, chain=None, raw: bool = False
):
    """Vectorized: Series[str] indexed by doc position → DataFrame
    (doc index, term) with one row per token occurrence.

    The subword split runs only on the batch's UNIQUE raw tokens
    (factorize), then expands back by occurrence with numpy repeats —
    a corpus has millions of occurrences but only thousands of
    distinct identifiers, so this removes ~99% of the regex work.

    ``positional``: also emit per-(doc, term) sorted position lists
    (varint-delta blobs). Token positions follow Lucene's
    WordDelimiterGraph-with-preserveOriginal convention: each SUBWORD
    advances the position counter by one, and the compound identifier
    overlays the position of its first subword — so the phrase
    "user data" matches ``user_data`` (consecutive subword positions)
    and the phrase ``user_data parse`` matches too (compound at the
    first subword's position, gap to the next raw token = its subword
    width). Positions are unique per (doc, term): subwords of one raw
    token occupy distinct slots, raw tokens occupy disjoint ranges,
    and the compound term string can never equal its own first
    subword (it contains a case or underscore boundary)."""
    rawtok = texts.str.findall(_RAW_TOKEN).explode().dropna()
    if rawtok.empty:
        return None if raw else _empty_tokens(positional)
    positions = rawtok.index.to_numpy(np.int64)
    codes, uniques = pd.factorize(rawtok.to_numpy(), sort=False)

    # subword split of the unique identifiers, all in pandas str ops:
    # per-unique term list = lowercased subwords, plus the compound
    # identifier itself when it split into >1 subword
    usr = pd.Series(uniques)
    subs = usr.str.findall(_SUBWORD)
    nsubs = subs.str.len().to_numpy(np.int64)
    sub_flat = subs.explode().dropna()
    sub_low = sub_flat.str.lower().to_numpy()
    sub_owner = sub_flat.index.to_numpy(np.int64)
    lens = nsubs + (nsubs > 1)
    offsets = np.concatenate([[0], np.cumsum(lens)])
    flat_uniq_terms = np.empty(int(offsets[-1]), dtype=object)
    within_sub = np.arange(len(sub_owner)) - np.repeat(
        np.concatenate([[0], np.cumsum(nsubs)])[:-1], nsubs
    )
    flat_uniq_terms[offsets[sub_owner] + within_sub] = sub_low
    compound = np.flatnonzero(nsubs > 1)
    flat_uniq_terms[offsets[compound] + nsubs[compound]] = (
        usr.iloc[compound].str.lower().to_numpy()
    )

    counts = lens[codes]
    total = int(counts.sum())
    out_pos = np.repeat(positions, counts)
    starts = np.repeat(offsets[codes], counts)
    within = np.arange(total) - np.repeat(
        np.concatenate([[0], np.cumsum(counts)])[:-1], counts
    )
    # canonical term codes: identical term strings from different raw
    # identifiers must share one code ("user" from getUserData AND
    # user_data), else tf under-counts and posting lists get duplicate
    # doc_ids
    term_codes_flat, term_vocab = pd.factorize(flat_uniq_terms, sort=False)
    tkey = term_codes_flat[starts + within]

    tokpos = None
    if positional:
        # token position per emitted instance: subwords advance the
        # counter by 1, the compound overlays its first subword's slot
        occ_nsubs = nsubs[codes]
        w_start = np.cumsum(occ_nsubs) - occ_nsubs
        dchange = np.flatnonzero(np.diff(positions, prepend=positions[0] - 1) != 0)
        drun = np.diff(np.append(dchange, len(positions)))
        occ_start = w_start - np.repeat(w_start[dchange], drun)
        flat_nsubs = np.repeat(occ_nsubs, counts)
        flat_start = np.repeat(occ_start, counts)
        tokpos = flat_start + np.where(within < flat_nsubs, within, 0)
    dl_minlen = int(positions.max()) + 1 if len(positions) else 0
    dedupe = False
    if chain is not None:
        term_vocab, out_pos, tkey, tokpos, dedupe = _chain_flat(
            chain, term_vocab, out_pos, tkey, tokpos
        )
    return _agg_flat(
        term_vocab, out_pos, tkey, tokpos, dl_minlen, positional, dedupe,
        raw=raw,
    )


def _simple_tokens(
    texts: pd.Series, positional: bool = False, chain=None, raw: bool = False
):
    # literal single-space split (keeps empty tokens), exactly
    # string_split(lower(text), ' ') — the analyzer must be
    # bit-identical to its ANSI-SQL twin, not merely close
    t = texts.str.lower().str.split(" ").explode().dropna()
    if not positional and chain is None and not raw:
        tok = pd.DataFrame({"pos": t.index, "term": t.values})
        tf = tok.groupby(["pos", "term"], sort=False).size().reset_index(name="tf")
        tf["dl"] = tf.groupby("pos", sort=False)["tf"].transform("sum").to_numpy(np.int32)
        tf["tf"] = tf["tf"].astype(np.int32)
        return tf
    # positional: token position = index in the split array, so
    # "consecutive positions" ⇔ "consecutive tokens of the split" ⇔
    # the ' t1 t2 ' substring test — the positional phrase path on
    # this analyzer shares the non-positional path's ANSI-SQL twin.
    # (A chain also routes the non-positional flow here: the flat
    # integer-key aggregation is where _chain_flat plugs in; stopword
    # drops keep position gaps because tokpos is assigned BEFORE the
    # filter runs.)
    doc = t.index.to_numpy(np.int64)
    if len(doc) == 0:
        return None if raw else _empty_tokens(positional)
    toks = t.to_numpy()
    tokpos = None
    if positional:
        change = np.flatnonzero(np.diff(doc, prepend=doc[0] - 1) != 0)
        run_len = np.diff(np.append(change, len(doc)))
        tokpos = np.arange(len(doc), dtype=np.int64) - np.repeat(change, run_len)
    codes, vocab = pd.factorize(toks, sort=False)
    term_vocab = np.asarray(vocab, dtype=object)
    dl_minlen = int(doc.max()) + 1
    dedupe = False
    if chain is not None:
        term_vocab, doc, codes, tokpos, dedupe = _chain_flat(
            chain, term_vocab, doc, codes, tokpos
        )
    return _agg_flat(
        term_vocab, doc, codes, tokpos, dl_minlen, positional, dedupe, raw=raw
    )


_ANALYZERS = {"code": _code_tokens, "path": _code_tokens, "simple": _simple_tokens}


def analyze_query(text: str, analyzer: str = "code", chain=None) -> list[str]:
    """Driver-side query analysis — same token rules as the distributed
    tokenizer (plain ``re`` on one string). Returns sorted distinct
    terms (query term multiplicity is ignored, the Lucene default).

    ``chain``: the index's analysis chain (IndexConfig.chain) — query
    terms get the same length/stop/stem treatment as indexed tokens.
    Synonyms need NO query-side expansion: they were injected at index
    time, so the index already contains every group member."""
    import re

    terms: set[str] = set()
    if analyzer == "simple":
        terms.update(t for t in text.lower().split(" ") if t)
    else:
        for tok in re.findall(_RAW_TOKEN, text):
            subs = re.findall(_SUBWORD, tok)
            terms.update(s.lower() for s in subs)
            if len(subs) > 1:
                terms.add(tok.lower())
    if chain is not None:
        terms = {chain.transform(t) for t in terms} - {None}
    return sorted(terms)


def analyze_phrase(
    text: str, analyzer: str = "code", min_len: int = 1, chain=None
) -> list[tuple[str, int]]:
    """Ordered (term, position) sequence of a QUERY phrase, using the
    same position convention as the positional index (see
    ``_code_tokens``): ``simple`` → index in the single-space split;
    ``code``/``path`` → one position per subword. Query phrases emit
    subwords ONLY (no compound overlay — the compound is an index-side
    artifact that shares its first subword's position, so emitting it
    here would double-book position 0): the phrase ``user_data parse``
    analyzes to ``user@0 data@1 parse@2``, exactly the indexed
    positions of the text ``user_data parse``. ``min_len`` filtering
    drops short terms but KEEPS the original position offsets (Lucene
    stopword position-gap behavior), so the positional matcher
    enforces the exact gap across the dropped token. ``chain``: the
    index's analysis chain — stopwords drop with the SAME gap
    preservation as min_len, and terms are stemmed to match the
    stemmed index."""
    import re

    def _emit(t: str) -> str | None:
        if chain is not None:
            return chain.transform(t)
        return t if len(t) >= min_len else None

    out: list[tuple[str, int]] = []
    if analyzer == "simple":
        for i, t in enumerate(text.lower().split(" ")):
            t = _emit(t)
            if t is not None:
                out.append((t, i))
        return out
    p = 0
    for tok in re.findall(_RAW_TOKEN, text):
        subs = re.findall(_SUBWORD, tok)
        for j, s in enumerate(subs):
            s = _emit(s.lower())
            if s is not None:
                out.append((s, p + j))
        p += len(subs)
    return out


def analyze_with_tf(
    text: str, analyzer: str = "code", chain=None
) -> dict[str, int]:
    """Driver-side analysis of ONE string keeping term frequencies —
    the term-vector read that More-Like-This needs (Lucene re-analyzes
    stored text when term vectors are absent; same here). Token rules
    are identical to the distributed tokenizer's; ``chain`` applies
    length/stop/stem (synonyms are index-side only)."""
    import re
    from collections import Counter

    tf: Counter[str] = Counter()
    if analyzer == "simple":
        tf.update(t for t in text.lower().split(" ") if t)
    else:
        for tok in re.findall(_RAW_TOKEN, text):
            subs = re.findall(_SUBWORD, tok)
            tf.update(s.lower() for s in subs)
            if len(subs) > 1:
                tf[tok.lower()] += 1
    if chain is not None:
        out: Counter[str] = Counter()
        for t, n in tf.items():
            t2 = chain.transform(t)
            if t2 is not None:
                out[t2] += n
        return dict(out)
    return dict(tf)


def _field_arrays(
    texts: pd.Series,
    analyzer: str,
    positional: bool,
    chain,
    min_len: int,
):
    """One field of one Arrow batch → the raw integer/array form
    {pos, codes, vocab, tf, dl, cpos} AFTER the vocab-level min_len
    filter (dl recomputed over kept rows — the Σtf invariant), or
    None when the field yields no tokens. Shared by ``tokenize`` and
    the index build's pack stage (plans.build_index) so both emit
    byte-identical token rows."""
    r = _ANALYZERS[analyzer](texts, positional=positional, chain=chain, raw=True)
    if r is None:
        return None
    pos, codes, vocab = r["pos"], r["codes"], r["vocab"]
    tf, dl_rows, cpos = r["tf"], r["dl"], r["cpos"]
    if min_len > 1 and len(vocab):
        # vocab-level length filter (thousands of entries), mapped
        # back to rows by integer indexing. INVARIANT: dl ≡ Σ tf over
        # the KEPT rows — derived corpus stats rely on this, so dl is
        # recomputed after the filter.
        vlens = np.fromiter(
            (len(t) for t in vocab), dtype=np.int64, count=len(vocab)
        )
        keep = (vlens >= min_len)[codes]
        if not keep.all():
            if cpos is not None:
                cpos = cpos[np.repeat(keep, tf)]
            pos, codes, tf = pos[keep], codes[keep], tf[keep]
            if len(pos) == 0:
                return None
            dl_doc = np.bincount(
                pos, weights=tf, minlength=int(pos.max()) + 1
            )
            dl_rows = dl_doc[pos].astype(np.int32)
    if len(pos) == 0:
        return None
    return {
        "pos": pos, "codes": codes, "vocab": vocab,
        "tf": tf, "dl": dl_rows, "cpos": cpos,
    }


def tokenize(
    documents: DataFrame,
    cfg: IndexConfig | None = None,
) -> DataFrame:
    """documents → flat token rows (doc_id, field, term, tf, dl[,
    positions]).

    Each configured field name must be a string column of
    ``documents``. tf is complete per output row because one document
    occupies exactly one input row of the Arrow batch, and dl (the
    doc's token count in that field) rides along. This is the token
    table for statistics and analysis jobs (``term_stats``,
    ``doc_lengths``, corpus stats, oracles); the index build never
    materializes it — its pack stage calls the same ``_field_arrays``
    kernel, so both emit identical token rows.
    """
    import pyarrow as pa

    from golr_loader_spark.functions.codec import (
        binary_from_segments,
        positions_encode,
    )

    cfg = cfg or IndexConfig()
    field_spec = [(f, a) for f, (a, _b) in cfg.fields.items()]
    chain = cfg.chain
    # an active chain folds min_term_len into its own filter stage
    # (pre-stem, with dl recomputed post-filter) — skip the outer pass
    min_len = cfg.min_term_len if chain is None else 1
    positional = cfg.positions
    cols = ["doc_id"] + [f for f, _ in field_spec]

    out_fields = [
        ("doc_id", pa.int64()), ("field", pa.string()),
        ("term", pa.string()), ("tf", pa.int32()), ("dl", pa.int32()),
    ]
    if positional:
        out_fields.append(("positions", pa.binary()))
    arrow_schema = pa.schema(out_fields)

    # mapInArrow, not mapInPandas: the output columns are assembled
    # straight from numpy buffers — term via one C-level take on the
    # batch vocabulary, positions as a single (offsets, stream) binary
    # column (binary_from_segments) — so the hot path creates ZERO
    # per-row Python objects. The old pandas assembly built one bytes
    # object per (doc, field, term) row for positions and one PyObject
    # per term string; at bench scale that doubled tokenizer wall on
    # positional builds.
    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if rb.num_rows == 0:
                continue
            doc_ids = rb.column(0).to_numpy(zero_copy_only=False)
            for fi, (fname, analyzer) in enumerate(field_spec):
                texts = rb.column(fi + 1).to_pandas()
                r = _field_arrays(texts, analyzer, positional, chain, min_len)
                if r is None:
                    continue
                pos, codes, vocab = r["pos"], r["codes"], r["vocab"]
                tf, dl_rows, cpos = r["tf"], r["dl"], r["cpos"]
                n = len(pos)
                vocab_arr = pa.array(vocab, type=pa.string())
                arrays = [
                    pa.array(doc_ids[pos], type=pa.int64()),
                    pa.compute.take(
                        pa.array([fname], type=pa.string()),
                        pa.array(np.zeros(n, dtype=np.int32)),
                    ),
                    pa.compute.take(vocab_arr, pa.array(codes)),
                    pa.array(tf.astype(np.int32)),
                    pa.array(dl_rows),
                ]
                if positional:
                    stream, seg = positions_encode(cpos, tf)
                    arrays.append(binary_from_segments(stream, seg))
                yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

    schema = TOKENS_SCHEMA_POS if positional else TOKENS_SCHEMA
    return documents.select(*cols).mapInArrow(run, schema=schema)
