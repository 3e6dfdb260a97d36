"""U3 — trie mention detection + predicate pairing (SURVEY.md §2.9 U3).

One fused mapInArrow pass over pages(url, html): extract → tokenize →
generalize → trie match → conflict-resolve → predicate pairing, emitting a
unified detections table (kind ∈ {mention, triple}). Fusing avoids
materializing fat token arrays through a shuffle — at 100 TB the tokens
table would be ~3× the corpus; here it never exists outside worker memory.

The rule trie + lexicons arrive via SparkContext.broadcast (the Spark
analogue of mXS's in-memory model) and are built once per Python worker:
`_TRIE_CACHE` is keyed by broadcast id, and Spark reuses worker processes
across tasks, so trie construction is amortized exactly like the
scalar-iterator init pattern.

No per-row Python UDFs — RecordBatch in / RecordBatch out (input_hint).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame, SparkSession

from mxsparkg.lexicons import build_lexicons
from mxsparkg.model import DEFAULT_RULES, PREDICATE_PATTERNS
from mxsparkg.textcore import build_trie, normalize_surface, tag_text

DETECT_SCHEMA = (
    "url string, sent_id int, kind string, m_start int, m_end int, "
    "surface string, surface_norm string, etype string, rule_id bigint, "
    "score double, context string, subj string, pred string, obj string, conf double"
)

_TRIE_CACHE: dict[str, tuple] = {}


def broadcast_model(
    spark: SparkSession,
    rules: list[dict] | None = None,
    pred_patterns: list[dict] | None = None,
) -> Broadcast:
    """Model → broadcast. A driver-computed content token rides along so
    worker processes build the trie once per model version (worker reuse
    makes the cache effective across tasks)."""
    import hashlib
    import json

    rules = rules or DEFAULT_RULES
    pred_patterns = pred_patterns or PREDICATE_PATTERNS
    token = hashlib.sha256(
        json.dumps([rules, pred_patterns], sort_keys=True).encode()
    ).hexdigest()
    return spark.sparkContext.broadcast(
        {"rules": rules, "pred_patterns": pred_patterns, "token": token}
    )


def _model_for(bc: Broadcast) -> tuple:
    m = bc.value
    key = m["token"]
    if key not in _TRIE_CACHE:
        _TRIE_CACHE[key] = (
            build_trie(m["rules"]),
            build_lexicons(),
            m["pred_patterns"],
        )
    return _TRIE_CACHE[key]


def detect_pages(pages: DataFrame, model_bc: Broadcast,
                 with_context: bool = True) -> DataFrame:
    """pages(url, html) → detections, with extraction fused INTO the same
    Python pass (U1∘U3 in one mapInArrow stage).

    Versus extract_pages feeding a second Python pass, this removes a whole
    JVM↔Python Arrow round-trip and the JVM-side UnsafeRow↔Arrow rebuild
    between the two Python nodes — the extracted text NEVER crosses a
    process boundary. Same pinned_extract, so byte-identity is unchanged."""
    from mxsparkg.textcore import pinned_extract

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        trie, lex, preds = _model_for(model_bc)
        for batch in batches:
            urls = batch.column("url").to_pylist()
            htmls = batch.column("html").to_pylist()
            texts = [
                pinned_extract(h) if h is not None else "" for h in htmls
            ]
            yield _tag_batch(urls, texts, trie, lex, preds, with_context)

    return pages.select("url", "html").mapInArrow(run, DETECT_SCHEMA)


def _tag_batch(urls, texts, trie, lex, preds,
               with_context: bool = True) -> pa.RecordBatch:
    # flat column buffers + direct appends: this loop runs once per
    # detection (10^1 per page × 10^12 pages) — no per-row closures
    c_url: list = []; c_sent: list = []; c_kind: list = []
    c_ms: list = []; c_me: list = []; c_surf: list = []
    c_norm: list = []; c_ety: list = []; c_rid: list = []
    c_score: list = []; c_ctx: list = []; c_subj: list = []; c_pred: list = []
    c_obj: list = []; c_conf: list = []
    for url, text in zip(urls, texts):
        mentions, triples = tag_text(text or "", trie, lex, preds,
                                     with_context)
        for m in mentions:
            surf = m["surface"]
            c_url.append(url); c_sent.append(m["sent_id"])
            c_kind.append("mention")
            c_ms.append(m["m_start"]); c_me.append(m["m_end"])
            c_surf.append(surf)
            c_norm.append(normalize_surface(surf))
            c_ety.append(m["etype"]); c_rid.append(m["rule_id"])
            c_score.append(m["score"])
            c_ctx.append(m["context"])
            c_subj.append(None); c_pred.append(None)
            c_obj.append(None); c_conf.append(None)
        for t in triples:
            c_url.append(url); c_sent.append(t["sent_id"])
            c_kind.append("triple")
            c_ms.append(None); c_me.append(None)
            c_surf.append(None); c_norm.append(None)
            c_ety.append(None); c_rid.append(None)
            c_score.append(None)
            c_ctx.append(None)
            c_subj.append(t["subj"]); c_pred.append(t["pred"])
            c_obj.append(t["obj"]); c_conf.append(t["conf"])
    return pa.RecordBatch.from_pydict(
        {
            "url": pa.array(c_url, pa.string()),
            "sent_id": pa.array(c_sent, pa.int32()),
            "kind": pa.array(c_kind, pa.string()),
            "m_start": pa.array(c_ms, pa.int32()),
            "m_end": pa.array(c_me, pa.int32()),
            "surface": pa.array(c_surf, pa.string()),
            "surface_norm": pa.array(c_norm, pa.string()),
            "etype": pa.array(c_ety, pa.string()),
            "rule_id": pa.array(c_rid, pa.int64()),
            "score": pa.array(c_score, pa.float64()),
            "context": pa.array(c_ctx, pa.string()),
            "subj": pa.array(c_subj, pa.string()),
            "pred": pa.array(c_pred, pa.string()),
            "obj": pa.array(c_obj, pa.string()),
            "conf": pa.array(c_conf, pa.float64()),
        }
    )


def split_detections(detections: DataFrame) -> tuple[DataFrame, DataFrame]:
    """→ (mentions, raw_triples). Call on a materialized detections table so
    the detect pass runs once (pipeline.py checkpoints it)."""
    mentions = detections.filter(detections.kind == "mention").select(
        "url", "sent_id", "m_start", "m_end", "surface", "surface_norm",
        "etype", "rule_id", "score", "context",
    )
    triples = detections.filter(detections.kind == "triple").select(
        "url", "sent_id", "subj", "pred", "obj", "conf",
    )
    return mentions, triples
