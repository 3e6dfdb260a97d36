"""Pure-function unit tests (SURVEY.md §5.2 tier 1) — no Spark."""

import pyarrow.parquet as pq

from mxsparkg import textcore as tc
from mxsparkg.lexicons import build_lexicons
from mxsparkg.model import DEFAULT_RULES, PREDICATE_PATTERNS


def test_extract_inverse_identity():
    text = "le président Jean Martin visite Paris .\nla séance est levée ."
    html = (
        "<html><head><title></title><script>x<y&z</script></head><body>"
        + "".join(f"<p>{tc.html_escape(ln)}</p>" for ln in text.split("\n"))
        + "</body></html>"
    ).encode("utf-8")
    assert tc.pinned_extract(html) == text


def test_extract_entities_and_junk():
    assert tc.pinned_extract(b"<p>a &amp; b &lt;c&gt; &#233;</p>") == "a & b <c> é"
    assert tc.pinned_extract(b"") == ""
    assert tc.pinned_extract(None) == ""
    assert tc.pinned_extract(b"<style>p{}</style><p> x </p>") == "x"


def test_extract_fixture_identity(tiny_fixtures):
    rows = pq.read_table(f"{tiny_fixtures}/pages.parquet").to_pylist()
    assert rows and all(tc.pinned_extract(r["html"]) == r["text"] for r in rows)


def test_tokenize_offsets():
    text = "Jean Martin visite Paris, c'est vrai."
    for tok, s, e in tc.tokenize(text):
        assert text[s:e] == tok


def test_sentence_split():
    toks = tc.tokenize("a b . c d ! e")
    sents = tc.split_sentences(toks)
    assert [len(s) for s in sents] == [3, 3, 1]


def test_shapes():
    assert tc.shape("Paris") == "Xxx"
    assert tc.shape("NASA") == "XXX"
    assert tc.shape("martin") == "xxx"
    assert tc.shape("1984") == "NUM"
    assert tc.shape(".") == "PUNCT"


def test_generalize_hierarchy():
    lex = build_lexicons()
    items = tc.generalize("Jean", lex)
    assert items[0] == "jean"
    assert "FIRSTNAME" in items
    assert items[-1] == "Xxx"


def test_trie_match_and_resolve():
    lex = build_lexicons()
    trie = tc.build_trie(DEFAULT_RULES)
    text = "le président Jean Martin visite Paris ."
    mentions, triples = tc.tag_text(text, trie, lex, PREDICATE_PATTERNS)
    spans = {(m["surface"], m["etype"]) for m in mentions}
    assert ("Jean Martin", "pers") in spans
    assert ("Paris", "loc") in spans
    assert [(t["pred"], t["subj"], t["obj"]) for t in triples] == [
        ("visits", "jean martin", "paris")
    ]


def test_conflict_resolution_prefers_score_then_length():
    matches = [(0, 2, "pers", 2.5, 3), (0, 1, "func", 0.5, 7), (1, 2, "loc", 1.5, 6)]
    picked = tc.resolve_matches(matches)
    assert picked == [(0, 2, "pers", 2.5, 3)]


def test_mention_offsets_byte_exact(tiny_fixtures):
    rows = pq.read_table(f"{tiny_fixtures}/gold_mentions.parquet").to_pylist()
    pages = {
        r["url"]: r["text"]
        for r in pq.read_table(f"{tiny_fixtures}/pages.parquet").to_pylist()
    }
    assert rows
    for m in rows:
        assert pages[m["url"]][m["m_start"] : m["m_end"]] == m["surface"]


def test_parse_annotated_roundtrip():
    line = "le président <pers> Jean Martin </pers> visite <loc> Paris </loc> ."
    clean, spans = tc.parse_annotated(line)
    assert clean == "le président Jean Martin visite Paris ."
    assert (13, 24, "pers") in spans
    assert clean[13:24] == "Jean Martin"
    assert (32, 37, "loc") in spans
    assert clean[32:37] == "Paris"


def test_annotated_sequence_has_marker_items():
    lex = build_lexicons()
    seq = tc.annotated_to_sequence(
        "<pers> Jean </pers> visite <loc> Paris </loc>", lex
    )
    flat = [i for s in seq for i in s]
    assert "<pers>" in flat and "</pers>" in flat and "TOPONYM" in flat


def test_tokenize_pages_offsets_byte_exact(tiny_fixtures):
    """Per-line tokenize + split_sentences over extracted pages: every
    token's page-level (start, end) indexes the text exactly (the offset
    contract that makes mention spans byte-accurate)."""
    lex = build_lexicons()
    rows = pq.read_table(f"{tiny_fixtures}/pages.parquet").to_pylist()[:20]
    n_checked = 0
    for r in rows:
        text = tc.pinned_extract(r["html"])
        pos = 0
        for line in text.split("\n"):
            for sent in tc.split_sentences(tc.tokenize(line)):
                for tok, s, e in sent:
                    assert text[pos + s:pos + e] == tok
                    assert tc.generalize(tok, lex)[0] == tok.lower()
                    n_checked += 1
            pos += len(line) + 1
    assert n_checked > 100


def test_compiled_matcher_equals_reference_dfs():
    """Property: the compiled epsilon-closure matcher (build_trie +
    match_sentence) returns exactly the reference DFS's match set on
    randomized rule sets and sentences — markers folded, semantics
    unchanged."""
    import random

    from mxsparkg.textcore import (
        _build_trie_raw,
        _match_sentence_ref,
        build_trie,
        match_sentence,
    )

    rng = random.Random(4242)
    items = ["a", "b", "c", "d", "e", "NUM", "Xxx"]
    for trial in range(60):
        rules = []
        for rid in range(rng.randint(1, 25)):
            ety = rng.choice(["pers", "loc", "org"])
            pre = [rng.choice(items) for _ in range(rng.randint(0, 2))]
            body = [rng.choice(items) for _ in range(rng.randint(1, 3))]
            post = [rng.choice(items) for _ in range(rng.randint(0, 2))]
            rules.append({
                "pattern": pre + [f"<{ety}>"] + body + [f"</{ety}>"] + post,
                "etype": ety,
                "score": round(rng.uniform(0.1, 1.0), 3),
                "rule_id": rid,
            })
        raw = _build_trie_raw(rules)
        compiled = build_trie(rules)
        for _ in range(20):
            sent = [
                frozenset(rng.sample(items, rng.randint(1, 3)))
                for _ in range(rng.randint(1, 12))
            ]
            got = set(match_sentence(compiled, sent))
            want = set(_match_sentence_ref(raw, sent))
            assert got == want, (trial, sent, got ^ want)
