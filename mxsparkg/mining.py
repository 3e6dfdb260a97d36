"""M1 — sequential pattern mining (the mXS training step, Spark-first).

Pipeline (SURVEY.md §3.3):
  annotated corpus (inline Etape/Ester2-style markers)
    → mapInArrow: parse to generalized item sequences (markers are items)
    → pyspark.ml.fpm.PrefixSpan: frequent sequential patterns (JVM, parallel)
    → DataFrame filter: well-formed single-marker-pair patterns
    → contiguous-support recount (PrefixSpan allows gaps; trie matching is
      contiguous — broadcast the candidate set, one Arrow pass over the
      corpus, map-side combined counts; SURVEY.md §7.3.7)
    → confidence = contiguous support WITH markers / support of the
      marker-stripped context (A2)
    → threshold + top-k per context prune (W2)
    → rules DataFrame → driver collect → trie → broadcast (M2)

Scale: the annotated training corpus is orders of magnitude smaller than the
page corpus (10^5–10^6 lines, not 10^12 pages) — PrefixSpan's multi-pass
shuffles are fine here. The *model* stays small (10^4–10^5 rules), so M2's
driver collect + broadcast is cheap, exactly like mXS loading its model
in-memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mxsparkg.lexicons import build_lexicons
from mxsparkg.textcore import annotated_to_sequence, is_marker

SEQ_SCHEMA = "doc_id bigint, sequence array<array<string>>"

# Driver-OOM guard for model-sized collects: every collect() in this module
# pulls a MODEL (rule/pattern/candidate set), small by construction
# (support thresholds + top-k prune) — but a pathological min_support could
# make the candidate set corpus-sized. Probe with limit(N+1) (one extra row,
# not a full count) and fail fast instead of discovering the OOM mid-collect.
MAX_MODEL_ROWS = 500_000


def guarded_collect(df: DataFrame, what: str, max_rows: int = MAX_MODEL_ROWS):
    """collect() with an explicit row bound and an actionable error."""
    n = df.limit(max_rows + 1).count()
    if n > max_rows:
        raise ValueError(
            f"{what}: more than {max_rows} rows would be collected to the "
            "driver — raise min_support/min_confidence (or max_rows if this "
            "model size is intended)"
        )
    return df.collect()


# ------------------------------------------------------------- sequences

def sequences_df(annotated: DataFrame) -> DataFrame:
    """annotated(doc_id, raw) → (doc_id, sequence) where sequence is the
    generalized itemset sequence with markers interleaved. One Arrow pass;
    lexicons built once per worker (module-level cache in lexicons)."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        lex = build_lexicons()
        for batch in batches:
            ids = batch.column("doc_id").to_pylist()
            raws = batch.column("raw").to_pylist()
            seqs = [annotated_to_sequence(r or "", lex) for r in raws]
            yield pa.RecordBatch.from_pydict(
                {
                    "doc_id": pa.array(ids, pa.int64()),
                    "sequence": pa.array(
                        seqs, pa.list_(pa.list_(pa.string()))
                    ),
                }
            )

    return annotated.select("doc_id", "raw").mapInArrow(run, SEQ_SCHEMA)


# ------------------------------------------------------------- candidates

def frequent_patterns(
    seq: DataFrame, min_support: float = 0.01, max_len: int = 6
) -> DataFrame:
    """PrefixSpan frequent sequential patterns → flattened candidate rules.

    Keeps only well-formed candidates: all-singleton itemsets, exactly one
    <etype>…</etype> pair, open before close, ≥1 token item inside the
    markers. Everything is DataFrame-side — the candidate set never hits
    the driver."""
    from pyspark.ml.fpm import PrefixSpan

    ps = PrefixSpan(
        minSupport=min_support,
        maxPatternLength=max_len,
        maxLocalProjDBSize=32000000,
    )
    pats = ps.findFrequentSequentialPatterns(seq.select("sequence"))
    flat = pats.filter(
        F.expr("forall(sequence, x -> size(x) = 1)")
    ).select(
        F.flatten("sequence").alias("pattern"), F.col("freq").alias("gap_freq")
    )
    markers = F.expr("filter(pattern, x -> x like '<%')")
    opens = F.expr(
        "filter(pattern, x -> x like '<%' and x not like '</%')"
    )
    closes = F.expr("filter(pattern, x -> x like '</%')")
    well_formed = (
        (F.size(markers) == 2)
        & (F.size(opens) == 1)
        & (F.size(closes) == 1)
        & (
            F.expr("try_element_at(filter(pattern, x -> x like '</%'), 1)")
            == F.concat(
                F.lit("</"),
                F.expr(
                    "substring(try_element_at(filter(pattern, "
                    "x -> x like '<%' and x not like '</%'), 1), 2)"
                ),
            )
        )
        & (
            F.expr(
                "array_position(pattern, try_element_at(filter(pattern, "
                "x -> x like '</%'), 1))"
            )
            > F.expr(
                "array_position(pattern, try_element_at(filter(pattern, "
                "x -> x like '<%' and x not like '</%'), 1))"
            )
            + 1
        )
    )
    return flat.filter(well_formed).select(
        "pattern",
        "gap_freq",
        F.expr(
            "substring(try_element_at(filter(pattern, x -> x like '<%' "
            "and x not like '</%'), 1), 3, 100)"
        ).alias("_tmp"),
    ).select(
        "pattern",
        "gap_freq",
        F.expr(
            "regexp_replace(try_element_at(filter(pattern, x -> x like '<%' "
            "and x not like '</%'), 1), '[<>]', '')"
        ).alias("etype"),
    )


# -------------------------------------------------- contiguous recount

def _count_contiguous(seq: list[list[str]], pat: list[str]) -> int:
    """Occurrences of `pat` as a CONTIGUOUS run in `seq`. Marker items must
    match marker elements exactly; token items must be in the itemset.
    Matches trie semantics (match_sentence) on the annotated stream."""
    n, m = len(seq), len(pat)
    count = 0
    for s in range(n - m + 1):
        ok = True
        for j, item in enumerate(pat):
            cell = seq[s + j]
            if is_marker(item):
                if cell != [item]:
                    ok = False
                    break
            elif len(cell) == 1 and is_marker(cell[0]):
                ok = False
                break
            elif item not in cell:
                ok = False
                break
        if ok:
            count += 1
    return count


def _strip_markers(pat: list[str]) -> list[str]:
    return [x for x in pat if not is_marker(x)]


def _strip_seq(seq: list[list[str]]) -> list[list[str]]:
    return [c for c in seq if not (len(c) == 1 and is_marker(c[0]))]


def recount_contiguous(
    seq: DataFrame, candidates: DataFrame
) -> DataFrame:
    """(pattern, etype) × corpus → (pattern, etype, support, ctx_support).

    The candidate set is broadcast (small, post-PrefixSpan); one Arrow pass
    over the sequences emits per-partition partial counts; groupBy sums —
    a map-side-combined aggregation, no pair shuffle."""
    spark = seq.sparkSession
    cands = [
        (r["pattern"], r["etype"])
        for r in guarded_collect(
            candidates.select("pattern", "etype"), "recount_contiguous candidates"
        )
    ]
    bc = spark.sparkContext.broadcast(cands)

    out_schema = "cand_id int, support bigint, ctx_support bigint"

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        cl = bc.value
        stripped = [_strip_markers(p) for p, _ in cl]
        sup = [0] * len(cl)
        ctx = [0] * len(cl)
        for batch in batches:
            for seq_val in batch.column("sequence").to_pylist():
                sseq = _strip_seq(seq_val)
                for i, (pat, _et) in enumerate(cl):
                    sup[i] += _count_contiguous(seq_val, pat)
                    ctx[i] += _count_contiguous(sseq, stripped[i])
        yield pa.RecordBatch.from_pydict(
            {
                "cand_id": pa.array(range(len(cl)), pa.int32()),
                "support": pa.array(sup, pa.int64()),
                "ctx_support": pa.array(ctx, pa.int64()),
            }
        )

    partials = seq.select("sequence").mapInArrow(run, out_schema)
    totals = partials.groupBy("cand_id").agg(
        F.sum("support").alias("support"),
        F.sum("ctx_support").alias("ctx_support"),
    )
    cand_df = spark.createDataFrame(
        [(i, p, e) for i, (p, e) in enumerate(cands)],
        "cand_id int, pattern array<string>, etype string",
    )
    return cand_df.join(totals, "cand_id").drop("cand_id")


# ------------------------------------------------------------- scoring

def score_rules(
    counted: DataFrame,
    min_support: int = 3,
    min_confidence: float = 0.5,
    topk_per_context: int = 3,
    max_context: int = 1,
) -> DataFrame:
    """A2 confidence + W2 top-k prune → scored rules with stable ids.

    confidence = P(markers | token context) — contiguous counts both sides.
    score = confidence × pattern length (longer = more specific, mirrors
    resolve_matches tie-breaking). rule_id = dense rank over a canonical
    ordering, deterministic across runs.

    max_context caps leading/trailing items outside the marker pair:
    long context windows add trie-matching cost without precision on the
    evaluation corpora (measured: same P/R, ~1.3× faster tagging at 1 vs
    unlimited); raise it for corpora where wide context disambiguates."""
    from pyspark.sql.window import Window

    lead = (
        F.expr(
            "array_position(pattern, try_element_at(filter(pattern, "
            "x -> x like '<%' and x not like '</%'), 1))"
        )
        - 1
    )
    trail = F.size("pattern") - F.expr(
        "array_position(pattern, try_element_at(filter(pattern, "
        "x -> x like '</%'), 1))"
    )
    conf = F.col("support") / F.greatest(F.col("ctx_support"), F.lit(1))
    scored = (
        counted.filter(F.col("support") >= min_support)
        .filter((lead <= max_context) & (trail <= max_context))
        .withColumn("confidence", F.round(conf, 6))
        .filter(F.col("confidence") >= min_confidence)
        .withColumn(
            "ctx_key", F.array_join(F.expr(
                "filter(pattern, x -> not x like '<%')"), " ")
        )
        .withColumn(
            "score",
            F.round(conf * (F.size("pattern") - 2), 4),
        )
    )
    w = Window.partitionBy("ctx_key").orderBy(
        F.desc("score"), F.desc("support"), F.array_join("pattern", " ")
    )
    pruned = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= topk_per_context)
        .drop("rk", "ctx_key")
    )
    w_id = Window.orderBy(
        F.desc("score"), F.desc("support"), F.array_join("pattern", " ")
    )
    return pruned.withColumn("rule_id", F.row_number().over(w_id)).select(
        "rule_id", "pattern", "etype", "support", "ctx_support",
        "confidence", "score",
    )


# ------------------------------------------------------------- top level

def mine_rules(
    annotated: DataFrame,
    min_support_frac: float = 0.01,
    max_len: int = 6,
    min_support: int = 3,
    min_confidence: float = 0.5,
    topk_per_context: int = 3,
    max_context: int = 1,
) -> DataFrame:
    """annotated(doc_id, raw) → scored rules DataFrame (M1 end-to-end)."""
    seq = sequences_df(annotated)
    seq.persist()
    try:
        cands = frequent_patterns(seq, min_support_frac, max_len)
        counted = recount_contiguous(seq, cands)
        return score_rules(
            counted, min_support, min_confidence, topk_per_context,
            max_context,
        )
    finally:
        # caller's terminal action may still need it; unpersist lazily
        seq.unpersist(blocking=False)


def rules_to_model(rules: DataFrame) -> list[dict]:
    """Scored rules → the list[dict] model consumed by textcore.build_trie
    / detect.broadcast_model (M2). Driver-side: the rule set is small by
    construction (thresholds + top-k prune)."""
    return [
        {
            "pattern": list(r["pattern"]),
            "etype": r["etype"],
            "score": float(r["score"]),
            "rule_id": int(r["rule_id"]),
        }
        for r in guarded_collect(rules, "rules_to_model")
    ]


# ===========================================================================
# M1 extended to RELATIONS: mine predicate patterns by distant supervision
# ===========================================================================
#
# The hand-written PREDICATE_PATTERNS list (model.py) is the v0 relation
# model; this miner learns an equivalent (and paraphrase-robust) set from an
# annotated corpus + a seed KG of (subj_norm, pred, obj_norm) facts:
#
#   annotated lines → adjacent gold-entity pairs with generalized middles
#     → broadcast-join the (tiny) seed KG on (subj_norm, obj_norm)  [J1]
#     → PrefixSpan over [%pred, <stype>, middle-itemsets.., <otype>]
#     → exact contiguous recount: support(pattern ∧ pred) vs
#       ctx_support(pattern over ALL pairs incl. unlabeled negatives)
#     → confidence filter + match-set-fingerprint dedup (the 4^L
#       generalization-level combinations of one template collapse to one
#       equivalence class; the most specific representative is kept)
#
# Scale: pair extraction is one Arrow pass over the (small) training
# corpus; the seed KG broadcasts; PrefixSpan shuffles only the positive
# pairs; the recount is a broadcast-candidates map-side-combined pass —
# the same shapes as NER-rule mining, nothing new to operate.

REL_EX_SCHEMA = (
    "subj_norm string, obj_norm string, stype string, otype string, "
    "seq array<array<string>>"
)

_GENERIC_ITEMS = {"xxx", "Xxx", "XXX", "NUM", "PUNCT"}
# Mersenne prime 2^61-1: per-example hashes (60 bits) stay below it, and
# modular sums fit comfortably in int64 on both worker and driver side
_FP_MOD = (1 << 61) - 1


def relation_examples(annotated: DataFrame, max_middle: int = 4) -> DataFrame:
    """annotated(doc_id, raw) → one row per adjacent gold-entity pair
    (placeholder-bracketed middle sequence). One Arrow pass."""
    from mxsparkg.textcore import annotated_to_relation_pairs

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        lex = build_lexicons()
        for batch in batches:
            cols: dict[str, list] = {
                "subj_norm": [], "obj_norm": [], "stype": [], "otype": [],
                "seq": [],
            }
            for raw in batch.column("raw").to_pylist():
                for sn, on, st, ot, seq in annotated_to_relation_pairs(
                    raw or "", lex, max_middle
                ):
                    cols["subj_norm"].append(sn)
                    cols["obj_norm"].append(on)
                    cols["stype"].append(st)
                    cols["otype"].append(ot)
                    cols["seq"].append(seq)
            yield pa.RecordBatch.from_pydict(
                {
                    "subj_norm": pa.array(cols["subj_norm"], pa.string()),
                    "obj_norm": pa.array(cols["obj_norm"], pa.string()),
                    "stype": pa.array(cols["stype"], pa.string()),
                    "otype": pa.array(cols["otype"], pa.string()),
                    "seq": pa.array(cols["seq"], pa.list_(pa.list_(pa.string()))),
                }
            )

    return annotated.select("raw").mapInArrow(run, REL_EX_SCHEMA)


def labeled_relation_examples(
    annotated: DataFrame, seed_triples: DataFrame, max_middle: int = 4
) -> DataFrame:
    """Distant supervision: label entity-pair examples with the seed KG's
    predicates via a broadcast join on (subj_norm, obj_norm), then collapse
    to DISTINCT examples carrying a label SET (preds array). Pairs absent
    from the seed get ['__none__'] — negatives that feed ctx_support and
    kill over-general patterns. Multi-label (a pair true under two
    relations) is inherent DS noise; keeping the full set — instead of
    duplicating the example per label — stops ctx_support inflation.

    The distinct-collapse also converts support from sentence-occurrence
    counts to distinct-pair-context counts, so one prolific entity pair
    can't dominate a pattern's support — the DS analogue of document
    frequency vs term frequency."""
    ex = relation_examples(annotated, max_middle)
    seed = seed_triples.select(
        "subj_norm", "pred", "obj_norm"
    ).dropDuplicates()
    joined = ex.join(F.broadcast(seed), ["subj_norm", "obj_norm"], "left")
    return joined.groupBy(
        "subj_norm", "obj_norm", "stype", "otype", "seq"
    ).agg(
        F.array_sort(
            F.collect_set(F.coalesce(F.col("pred"), F.lit("__none__")))
        ).alias("preds")
    )


def _candidate_patterns(
    labeled: DataFrame, min_support_frac: float = 0.02, max_middle: int = 4
) -> DataFrame:
    """PrefixSpan over label-prefixed sequences → well-formed candidates
    (pred, bracket). A candidate is [%pred, <stype>, items.., <otype>]
    with all-singleton itemsets, exactly one label and two placeholders."""
    from pyspark.ml.fpm import PrefixSpan

    seqs = (
        labeled.select(
            F.explode("preds").alias("pred"), "seq"
        )
        .filter(F.col("pred") != "__none__")
        .select(
            F.concat(
                F.array(F.array(F.concat(F.lit("%"), F.col("pred")))),
                F.col("seq"),
            ).alias("sequence")
        )
    )
    ps = PrefixSpan(
        minSupport=min_support_frac,
        maxPatternLength=max_middle + 3,
        maxLocalProjDBSize=32000000,
    )
    pats = ps.findFrequentSequentialPatterns(seqs)
    flat = pats.filter(
        F.expr("forall(sequence, x -> size(x) = 1)")
    ).select(F.flatten("sequence").alias("pattern"))
    n_markers = F.size(F.expr("filter(pattern, x -> x like '<%')"))
    n_labels = F.size(
        F.expr("filter(pattern, x -> substring(x, 1, 1) = '%')")
    )
    well_formed = (
        (F.size("pattern") >= 3)
        & F.element_at("pattern", 1).startswith("%")
        & F.element_at("pattern", 2).startswith("<")
        & F.element_at("pattern", -1).startswith("<")
        & (n_markers == 2)
        & (n_labels == 1)
    )
    return flat.filter(well_formed).select(
        F.expr("substring(element_at(pattern, 1), 2)").alias("pred"),
        F.expr("slice(pattern, 2, size(pattern) - 1)").alias("bracket"),
    )


def _match_bracket(seq: list[list[str]], pat: list[str]) -> bool:
    """Exact full-coverage match: placeholder items must equal the
    placeholder cells, each middle item must be in its token's itemset,
    and lengths must agree (match_predicates consumes exactly one token
    per non-marker item)."""
    if len(seq) != len(pat):
        return False
    for cell, item in zip(seq, pat):
        if item.startswith("<"):
            if cell != [item]:
                return False
        elif item not in cell:
            return False
    return True


def recount_predicates(labeled: DataFrame, cands: list[tuple]) -> DataFrame:
    """(pred, bracket) candidates × labeled pairs → support, ctx_support
    and a match-set fingerprint (order-independent sum of per-example
    hashes). Broadcast candidates, one Arrow pass, groupBy sum — the same
    map-side-combined recount shape as NER mining."""
    import hashlib

    spark = labeled.sparkSession
    bc = spark.sparkContext.broadcast(cands)
    out_schema = "cand_id int, support bigint, ctx_support bigint, fp bigint"

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        cl = bc.value
        sup = [0] * len(cl)
        ctx = [0] * len(cl)
        fp = [0] * len(cl)
        for batch in batches:
            predss = batch.column("preds").to_pylist()
            subjs = batch.column("subj_norm").to_pylist()
            objs = batch.column("obj_norm").to_pylist()
            seqs = batch.column("seq").to_pylist()
            for preds, sn, on, seq in zip(predss, subjs, objs, seqs):
                ex_key = None
                for i, (cpred, bracket) in enumerate(cl):
                    if len(seq) != len(bracket):
                        continue
                    if _match_bracket(seq, bracket):
                        if ex_key is None:
                            raw = f"{preds!r}|{sn}|{on}|{seq!r}".encode()
                            ex_key = int(
                                hashlib.md5(raw).hexdigest()[:15], 16
                            )
                        ctx[i] += 1
                        # sum (not xor): duplicate examples must not cancel;
                        # mod _FP_MOD keeps partials in int64 range while
                        # staying additive across partitions
                        fp[i] = (fp[i] + ex_key) % _FP_MOD
                        if cpred in preds:
                            sup[i] += 1
        yield pa.RecordBatch.from_pydict(
            {
                "cand_id": pa.array(range(len(cl)), pa.int32()),
                "support": pa.array(sup, pa.int64()),
                "ctx_support": pa.array(ctx, pa.int64()),
                "fp": pa.array(fp, pa.int64()),
            }
        )

    partials = labeled.select(
        "preds", "subj_norm", "obj_norm", "seq"
    ).mapInArrow(run, out_schema)
    totals = partials.groupBy("cand_id").agg(
        F.sum("support").alias("support"),
        F.sum("ctx_support").alias("ctx_support"),
        # modular sum: fingerprint addition mod _FP_MOD is associative/
        # commutative, so partial sums combine exactly like the counts do.
        # Accumulate in decimal(38): per-partition partials are ~2^61, so a
        # plain long sum could overflow under Spark 4 ANSI
        (
            F.sum(F.col("fp").cast("decimal(38,0)")) % F.lit(_FP_MOD)
        ).cast("bigint").alias("fp"),
    )
    cand_df = spark.createDataFrame(
        [(i, p, list(b)) for i, (p, b) in enumerate(cands)],
        "cand_id int, pred string, bracket array<string>",
    )
    return cand_df.join(totals, "cand_id").drop("cand_id")


def score_predicates(
    counted: DataFrame,
    min_support: int = 3,
    min_confidence: float = 0.8,
) -> DataFrame:
    """Confidence filter + equivalence-class dedup.

    confidence = P(pred | pattern matches) over ALL pairs (negatives
    included). Candidates with identical (pred, match-set fingerprint) are
    interchangeable at tagging time — the generalization-level lattice of
    one template collapses here; keep the most SPECIFIC representative
    (max surface items; deterministic tie-break) for precision headroom
    on unseen text."""
    from pyspark.sql.window import Window

    generic = F.array(*[F.lit(x) for x in sorted(_GENERIC_ITEMS)])
    spec = F.size(
        F.filter(
            "bracket",
            lambda x: (~F.array_contains(generic, x))
            & (x != F.upper(x)),
        )
    )
    conf = F.col("support") / F.greatest(F.col("ctx_support"), F.lit(1))
    scored = (
        counted.filter(F.col("support") >= min_support)
        .withColumn("confidence", F.round(conf, 6))
        .filter(F.col("confidence") >= min_confidence)
        .withColumn("specificity", spec)
    )
    w = Window.partitionBy("pred", "fp").orderBy(
        F.desc("specificity"), F.desc("support"), F.array_join("bracket", " ")
    )
    deduped = (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk", "fp")
    )
    w_id = Window.orderBy(
        "pred", F.desc("support"), F.array_join("bracket", " ")
    )
    return deduped.withColumn(
        "pattern_id", F.row_number().over(w_id)
    ).select(
        "pattern_id", "pred", F.col("bracket").alias("pattern"),
        "support", "ctx_support", "confidence", "specificity",
    )


def mine_predicates(
    annotated: DataFrame,
    seed_triples: DataFrame,
    min_support_frac: float = 0.02,
    min_support: int = 3,
    min_confidence: float = 0.8,
    max_middle: int = 4,
) -> DataFrame:
    """annotated(doc_id, raw) × seed(subj_norm, pred, obj_norm) → mined
    predicate patterns DataFrame (M1-for-relations end-to-end). The result
    replaces the hand-written PREDICATE_PATTERNS via
    pred_patterns_to_model()."""
    labeled = labeled_relation_examples(annotated, seed_triples, max_middle)
    labeled.persist()
    try:
        cand_rows = guarded_collect(
            _candidate_patterns(labeled, min_support_frac, max_middle),
            "mine_predicates candidates",
        )
        cands = [(r["pred"], tuple(r["bracket"])) for r in cand_rows]
        counted = recount_predicates(labeled, cands)
        return score_predicates(counted, min_support, min_confidence)
    finally:
        labeled.unpersist(blocking=False)


def pred_patterns_to_model(patterns: DataFrame) -> list[dict]:
    """Mined predicate patterns → the list[dict] consumed by
    detect.broadcast_model / textcore.match_predicates (drop-in for
    model.PREDICATE_PATTERNS). Driver-side: the set is small by
    construction (confidence filter + equivalence-class dedup)."""
    return [
        {"pred": r["pred"], "pattern": list(r["pattern"])}
        for r in guarded_collect(
            patterns.orderBy("pattern_id"), "pred_patterns_to_model"
        )
    ]
