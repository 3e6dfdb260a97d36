"""Seeded inputs for the pipeline benchmark.

Every workload's input is a pure function of its seed. The program under
test only ever sees the files written here:

- crawl:  the fixture grammar corpus (fixtures.generate.generate), split
  into a multi-file crawl segment so detect gets several input splits.
- tail:   a high-cardinality org corpus built from the default rule shapes,
  with one planted celebrity, two-candidate and unknown dictionary
  surfaces, and an alias graph above connected_components' driver
  threshold.

Run as a script to (re)generate one workload's inputs:
  python3 perfbench/gen.py --workload tail --seed 1 --out DIR
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from bisect import bisect_left
import sys
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from fixtures.generate import generate  # noqa: E402
from mxsparkg.lexicons import FIRSTNAMES, SURNAMES, TOPONYMS  # noqa: E402
from mxsparkg.textcore import html_escape, normalize_surface  # noqa: E402

# Input sizes. Small enough that one benchmark run (set-up, reference run
# and the timed loop) stays well under a minute on a 4-core box.
CRAWL_PAGES = 30_000
CRAWL_FILES = 6
TAIL_PAGES = 8_000
TAIL_ORGS = 110_000
TAIL_CELEB_SHARE = 0.25
TAIL_TWO_CAND_SHARE = 0.10
TAIL_UNKNOWN_SHARE = 0.05
TAIL_CHAIN = 3  # ids per alias cluster: the org, its en alias, a redirect
DRIVER_THRESHOLD = 200_000  # graph.connected_components default
TAIL_FILES = 6

EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)
PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


def write_segment(table: pa.Table, out_dir: str, n_files: int) -> None:
    """Split a pages table into n_files parquet files (a crawl segment)."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(out_dir, f"part-{i:05d}.parquet"),
                       row_group_size=512)


def make_crawl(out_dir: str, seed: int, n_pages: int = CRAWL_PAGES) -> dict:
    fx = os.path.join(out_dir, "fixture")
    generate(fx, n_pages=n_pages, n_annotated=10, seed=seed)
    pages = pq.read_table(os.path.join(fx, "pages.parquet"))
    write_segment(pages, os.path.join(out_dir, "pages"), CRAWL_FILES)
    return {
        "pages": os.path.join(out_dir, "pages"),
        "entity_dict": os.path.join(fx, "entity_dict.parquet"),
        "aliases": os.path.join(fx, "gold_canon.parquet"),
        "gold_triples": os.path.join(fx, "gold_triples.parquet"),
        "n_pages": pages.num_rows,
    }


# --------------------------------------------------------------------------
# tail_highcard
# --------------------------------------------------------------------------

_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def org_name(i: int) -> str:
    """Distinct capitalized single-token names ('Q' + 4 letters): shape Xxx,
    never a lexicon word (no lexicon entry starts with q)."""
    s = ""
    for _ in range(4):
        i, r = divmod(i, 26)
        s = _LETTERS[r] + s
    return "Q" + s


CELEB = "Qcelebrity"  # 10 letters: cannot collide with the 5-letter names


def nil_id(surface_norm: str) -> str:
    """link.nil_id computed outside Spark."""
    return "nil:" + hashlib.sha256(surface_norm.encode("utf-8")).hexdigest()[:16]


def _persons() -> list[tuple[str, str]]:
    return [(f"{f.capitalize()} {s.capitalize()}", f"pers:{f}_{s}")
            for f in FIRSTNAMES for s in SURNAMES]


# (lang, template, pred): {P} person, {O} org name, {L} toponym.
# fr org surfaces are "société <Name>" (rule ORGWORD Xxx), en ones
# "<Name> institute" (rule Xxx ORGWORD).
TAIL_TEMPLATES = [
    ("fr", "{P} travaille pour la société {O} .", "works_for"),
    ("fr", "{P} dirige la société {O} .", "leads"),
    ("en", "{P} works for the {O} institute .", "works_for"),
    ("en", "the {O} institute is based in {L} .", "based_in"),
    ("fr", "la société {O} annonce des résultats .", None),
]


def make_tail(out_dir: str, seed: int, n_pages: int = TAIL_PAGES,
              n_orgs: int = TAIL_ORGS) -> dict:
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    names = [org_name(i) for i in range(n_orgs)] + [CELEB]
    celeb = n_orgs
    order = list(range(n_orgs))
    rng.shuffle(order)  # seed decides which names are frequent
    unknown = set(rng.sample(range(n_orgs), int(n_orgs * TAIL_UNKNOWN_SHARE)))
    known = [i for i in range(n_orgs) if i not in unknown]
    two_cand = set(rng.sample(known, int(len(known) * TAIL_TWO_CAND_SHARE)))
    persons = _persons()
    locs = [(t.capitalize(), f"loc:{t}") for t in TOPONYMS]

    def org_id(i: int, lang: str) -> str:
        """Canonical id a mention of org i in lang must end up with."""
        surf = (f"société {names[i]}" if lang == "fr"
                else f"{names[i]} institute")
        if i in unknown:
            return nil_id(normalize_surface(surf))
        return f"org:{names[i].lower()}"

    # Zipf(1.0) ranks over the shuffled org order; the celebrity takes a
    # fixed share of all org mentions on top
    cum, acc = [], 0.0
    for r in range(1, n_orgs + 1):
        acc += 1.0 / r
        cum.append(acc)

    def draw_org() -> int:
        if rng.random() < TAIL_CELEB_SHARE:
            return celeb
        return order[min(bisect_left(cum, rng.random() * acc), n_orgs - 1)]

    cols = {k: [] for k in ("url", "warc_ts", "html", "text", "lang")}
    gold = {k: [] for k in ("subj", "pred", "obj", "url")}
    org_mentions = celeb_mentions = nil_mentions = 0
    planted: list[list] = []  # per page: [(surface, etype)], [(s, p, o)]
    for i in range(n_pages):
        url = f"https://tail{rng.randrange(64):02d}.example.net/doc/{i}"
        lines, page_triples, page_mentions, page_raw = [], set(), [], []
        for _ in range(rng.randint(6, 10)):
            lang, tpl, pred = TAIL_TEMPLATES[rng.randrange(len(TAIL_TEMPLATES))]
            o = draw_org()
            p_surf, p_id = persons[rng.randrange(len(persons))]
            l_surf, l_id = locs[rng.randrange(len(locs))]
            line = tpl.format(P=p_surf, O=names[o], L=l_surf)
            lines.append(line)
            o_surf = (f"société {names[o]}" if lang == "fr"
                      else f"{names[o]} institute")
            org_mentions += 1
            celeb_mentions += o == celeb
            nil_mentions += o in unknown
            if "{P}" in tpl:
                page_mentions.append((p_surf, "pers"))
            page_mentions.append((o_surf, "org"))
            if "{L}" in tpl:
                page_mentions.append((l_surf, "loc"))
            if pred is not None:
                oid = org_id(o, lang)
                if "{P}" in tpl:
                    page_triples.add((p_id, pred, oid))
                    page_raw.append((normalize_surface(p_surf), pred,
                                     normalize_surface(o_surf)))
                else:
                    page_triples.add((oid, pred, l_id))
                    page_raw.append((normalize_surface(o_surf), pred,
                                     normalize_surface(l_surf)))
        text = "\n".join(lines)
        body = "".join(f"<p>{html_escape(ln)}</p>" for ln in lines)
        cols["url"].append(url)
        cols["warc_ts"].append(EPOCH + timedelta(seconds=i * 89))
        cols["html"].append(
            f"<html><head><title></title></head><body>{body}</body></html>"
            .encode("utf-8"))
        cols["text"].append(text)
        cols["lang"].append("fr")
        for s, p, o in sorted(page_triples):
            gold["subj"].append(s)
            gold["pred"].append(p)
            gold["obj"].append(o)
            gold["url"].append(url)
        if i < 200:
            planted.append([page_mentions, page_raw])
    pages = pa.table(cols, schema=PAGES_SCHEMA)
    write_segment(pages, os.path.join(out_dir, "pages"), TAIL_FILES)
    pq.write_table(pa.table({k: pa.array(v, pa.string()) for k, v in gold.items()}),
                   os.path.join(out_dir, "gold_triples.parquet"))

    # ---- dictionary: fr surface -> canonical id, en surface -> an alias
    # id that canonicalizes back through the alias graph; two-candidate
    # surfaces get a weaker second entity; unknown orgs are left out
    ed = {"surface_norm": [], "entity_id": [], "prior": [], "context_words": []}

    def add(surface: str, eid: str, prior: float) -> None:
        ed["surface_norm"].append(normalize_surface(surface))
        ed["entity_id"].append(eid)
        ed["prior"].append(prior)
        ed["context_words"].append([])

    for surf, pid in persons:
        add(surf, pid, 0.9)
    for surf, lid in locs:
        add(surf, lid, 0.8)
    n_two = 0
    for i in range(n_orgs + 1):
        if i in unknown:
            continue
        base = f"org:{names[i].lower()}"
        add(f"société {names[i]}", base, 0.8)
        add(f"{names[i]} institute", base + "~en", 0.8)
        if i in two_cand:
            add(f"société {names[i]}", base + "#2", 0.3)
            n_two += 1
    pq.write_table(pa.table({
        "surface_norm": pa.array(ed["surface_norm"], pa.string()),
        "entity_id": pa.array(ed["entity_id"], pa.string()),
        "prior": pa.array(ed["prior"], pa.float64()),
        "context_words": pa.array(ed["context_words"], pa.list_(pa.string())),
    }), os.path.join(out_dir, "entity_dict.parquet"))

    # ---- alias clusters: every known org is a chain of TAIL_CHAIN ids
    # (itself, its en alias, redirect ids).
    # Canonical = component min = the bare org id ('~' sorts last).
    al = {"entity_id": [], "canon_id": []}
    n_edges = 0
    for i in range(n_orgs + 1):
        if i in unknown:
            continue
        base = f"org:{names[i].lower()}"
        ids = [base, base + "~en"] + [
            f"{base}~r{k:04d}" for k in range(TAIL_CHAIN - 2)]
        for eid in ids:
            al["entity_id"].append(eid)
            al["canon_id"].append(base)
        n_edges += len(ids) - 1
    pq.write_table(pa.table({k: pa.array(v, pa.string()) for k, v in al.items()}),
                   os.path.join(out_dir, "aliases.parquet"))
    planted_path = os.path.join(out_dir, "planted_sample.json")
    with open(planted_path, "w") as f:
        json.dump({"urls": cols["url"][:200], "pages": planted}, f)
    return {
        "pages": os.path.join(out_dir, "pages"),
        "entity_dict": os.path.join(out_dir, "entity_dict.parquet"),
        "aliases": os.path.join(out_dir, "aliases.parquet"),
        "gold_triples": os.path.join(out_dir, "gold_triples.parquet"),
        "planted_sample": planted_path,
        "n_pages": n_pages,
        "org_mentions": org_mentions,
        "celeb_share": celeb_mentions / org_mentions,
        "nil_share": nil_mentions / org_mentions,
        "two_candidate_surfaces": n_two,
        "alias_edges": n_edges,
    }


def check_tail(info: dict) -> list[str]:
    """Self-check of the planted properties; returns the failures."""
    from mxsparkg.lexicons import build_lexicons
    from mxsparkg.model import DEFAULT_RULES, PREDICATE_PATTERNS
    from mxsparkg.textcore import build_trie, pinned_extract, tag_text

    bad = []
    if not 0.15 <= info["celeb_share"] <= 0.35:
        bad.append(f"celebrity share {info['celeb_share']:.3f}")
    if info["alias_edges"] <= DRIVER_THRESHOLD:
        bad.append(f"alias edges {info['alias_edges']} <= {DRIVER_THRESHOLD}")
    if info["two_candidate_surfaces"] == 0:
        bad.append("no two-candidate surface")
    if info["nil_share"] <= 0:
        bad.append("no unknown (NIL) surface")
    with open(info["planted_sample"]) as f:
        sample = json.load(f)
    urls = set(sample["urls"])
    html = {}
    for name in sorted(os.listdir(info["pages"])):
        t = pq.read_table(os.path.join(info["pages"], name),
                          columns=["url", "html"])
        for u, h in zip(t.column("url").to_pylist(), t.column("html").to_pylist()):
            if u in urls:
                html[u] = h
        if len(html) == len(urls):
            break
    trie, lex = build_trie(DEFAULT_RULES), build_lexicons()
    for url, (want_m, want_t) in zip(sample["urls"], sample["pages"]):
        mentions, triples = tag_text(pinned_extract(html[url]), trie, lex,
                                     PREDICATE_PATTERNS, False)
        got_m = [[m["surface"], m["etype"]] for m in mentions]
        got_t = sorted([t["subj"], t["pred"], t["obj"]] for t in triples)
        if got_m != [list(m) for m in want_m] or got_t != sorted(
                list(t) for t in want_t):
            bad.append(f"planted shapes not detected as planted on {url}")
            break
    return bad


def make(workload: str, out_dir: str, seed: int) -> dict:
    return {"crawl_cold": make_crawl,
            "tail_highcard": make_tail}[workload](out_dir, seed)


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["crawl_cold", "tail_highcard"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    info = make(args.workload, args.out, args.seed)
    info["check_failures"] = (check_tail(info)
                              if args.workload == "tail_highcard" else [])
    print(json.dumps(info))
