"""Measurement helpers for the pipeline benchmark, all taken from outside
the program: /proc for the process tree, the Spark status store for stage
figures, pyarrow reads of committed tables for digests, and in-process
timing of the textcore public functions on a page sample."""

from __future__ import annotations

import hashlib
import json
import os
import time

import pyarrow.parquet as pq

_TICK = os.sysconf("SC_CLK_TCK")


class BenchError(Exception):
    """A failed output check or broken set-up: the run is not correct."""


def cores() -> int:
    return len(os.sched_getaffinity(0))


# --------------------------------------------------------------------------
# process tree (Python driver, JVM, Python workers)
# --------------------------------------------------------------------------

def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended while we listed /proc
        return None
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(name)
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """utime+stime of every live process in the tree, plus what each has
    reaped from its ended children (cutime+cstime)."""
    total = 0
    for pid in process_tree(root):
        st = _stat(str(pid))
        if st is not None:
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def tree_peak_rss_mb(root: int | None = None) -> float:
    total_kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


# --------------------------------------------------------------------------
# outputs
# --------------------------------------------------------------------------

TERMINAL = ("nodes", "edges", "triples")


def table_digest(path: str) -> str:
    """Order- and partitioning-independent digest of a parquet table dir."""
    rows = pq.read_table(path).to_pylist()
    lines = sorted(json.dumps(r, sort_keys=True, default=str) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def kg_digest(checkpoint: str) -> str:
    return "/".join(table_digest(os.path.join(checkpoint, t)) for t in TERMINAL)


def manifest_rows(checkpoint: str, stage: str) -> int:
    with open(os.path.join(checkpoint, f"{stage}._manifest.json")) as f:
        return json.load(f)["rows"]


def triple_pr(checkpoint: str, gold_path: str) -> tuple[float, float]:
    """Precision/recall of distinct (subj, pred, obj, url) against gold."""
    cols = ["subj", "pred", "obj", "url"]
    got = set(zip(*pq.read_table(os.path.join(checkpoint, "triples"),
                                 columns=cols).to_pydict().values()))
    gold = set(zip(*pq.read_table(gold_path, columns=cols).to_pydict().values()))
    tp = len(got & gold)
    return (tp / len(got) if got else 0.0, tp / len(gold) if gold else 0.0)


def dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    ) / 1e6


# --------------------------------------------------------------------------
# Spark status store
# --------------------------------------------------------------------------

STAGE_MEASURES = ("wall_s", "run_s", "jvm_cpu_s", "shuffle_write_mb",
                  "spill_mb", "task_skew", "jobs")


class StatusStore:
    """Reads per-job-group figures from the driver's AppStatusStore through
    py4j (works with the UI off)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self._jvm = self.sc._jvm
        self._no_quantiles = self.sc._gateway.new_array(self._jvm.double, 0)

    def _seq(self, seq) -> list:
        return [seq.apply(i) for i in range(seq.size())]

    def stage_figures(self, job_ids) -> dict:
        """Sum of executor figures over the jobs' completed stage attempts;
        skew = max / median task run time over all their tasks."""
        run_ms = cpu_ns = shuffle = spill = 0
        tasks: list[int] = []
        seen = set()
        for jid in job_ids:
            info = self.sc.statusTracker().getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                for sd in self._seq(self.store.stageData(
                        sid, False, self._jvm.java.util.ArrayList(), False,
                        self._no_quantiles)):
                    if str(sd.status()) != "COMPLETE":
                        continue
                    run_ms += sd.executorRunTime()
                    cpu_ns += sd.executorCpuTime()
                    shuffle += sd.shuffleWriteBytes()
                    spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    for t in self._seq(self.store.taskList(
                            sid, sd.attemptId(), 1 << 20)):
                        m = t.taskMetrics()
                        if m.isDefined():
                            tasks.append(m.get().executorRunTime())
        tasks.sort()
        median = tasks[len(tasks) // 2] if tasks else 0
        return {
            "run_s": run_ms / 1e3,
            "jvm_cpu_s": cpu_ns / 1e9,
            "shuffle_write_mb": shuffle / 1e6,
            "spill_mb": spill / 1e6,
            "task_skew": tasks[-1] / median if median else 0.0,
            "jobs": len(job_ids),
        }

    def group(self, name: str) -> dict:
        return self.stage_figures(
            sorted(self.sc.statusTracker().getJobIdsForGroup(name)))

    def job_ids(self) -> list[int]:
        return sorted(jd.jobId() for jd in self._seq(self.store.jobsList(None)))


# --------------------------------------------------------------------------
# textcore / detect, in process
# --------------------------------------------------------------------------

def textcore_breakdown(htmls: list[bytes], with_context: bool) -> dict:
    """Times each public textcore function in tag_text's order over a page
    sample, plus the detect batch build. Every step runs twice and the
    second, warm-cache pass is timed, as in a reused Python worker."""
    from mxsparkg.detect import _tag_batch
    from mxsparkg.lexicons import build_lexicons
    from mxsparkg.model import DEFAULT_RULES, PREDICATE_PATTERNS
    from mxsparkg.textcore import (
        build_trie, generalize, match_predicates, match_sentence,
        pinned_extract, resolve_matches, split_sentences, tag_text, tokenize,
    )

    n = len(htmls)
    lex, preds = build_lexicons(), PREDICATE_PATTERNS
    trie = build_trie(DEFAULT_RULES)
    cache: dict[str, frozenset] = {}

    def gen_sets_of(sents):
        out = []
        for s in sents:
            gs = []
            for tk in s:
                fs = cache.get(tk[0])
                if fs is None:
                    fs = frozenset(generalize(tk[0], lex))
                    cache[tk[0]] = fs
                gs.append(fs)
            out.append(gs)
        return out

    def warm(fn):
        fn()
        t = time.perf_counter()
        out = fn()
        return out, time.perf_counter() - t

    texts, extract = warm(lambda: [pinned_extract(h) for h in htmls])
    sents, tok = warm(lambda: [s for text in texts for line in text.split("\n")
                               for s in split_sentences(tokenize(line))])
    n_tok = sum(len(s) for s in sents)
    n_tokens_distinct = len({tk[0] for s in sents for tk in s})
    gen_sets, gen = warm(lambda: gen_sets_of(sents))
    n_genset = len({fs for g in gen_sets for fs in g})
    matches, match = warm(lambda: [match_sentence(trie, g) for g in gen_sets])
    picked, resolve = warm(lambda: [resolve_matches(m) for m in matches])
    _, pred = warm(lambda: [match_predicates(preds, p, g)
                            for p, g in zip(picked, gen_sets)])
    tagged, tag = warm(lambda: [tag_text(x, trie, lex, preds, with_context)
                                for x in texts])
    urls = [str(i) for i in range(n)]
    _, batch = warm(lambda: _tag_batch(urls, texts, trie, lex, preds,
                                       with_context))

    us = 1e6 / n
    return {
        "textcore.extract.us_per_doc": extract * us,
        "textcore.tokenize.us_per_doc": tok * us,
        "textcore.generalize.us_per_doc": gen * us,
        "textcore.generalize.cache_hit_rate":
            1 - n_tokens_distinct / max(n_tok, 1),
        "textcore.match_sentence.us_per_doc": match * us,
        "textcore.match_sentence.prune_cache_hit_rate":
            1 - n_genset / max(n_tok, 1),
        "textcore.resolve.us_per_doc": resolve * us,
        "textcore.match_predicates.us_per_doc": pred * us,
        "textcore.tag_text.us_per_doc": tag * us,
        "textcore.tag_text.mentions_per_doc":
            sum(len(m) for m, _ in tagged) / n,
        "textcore.tag_text.triples_per_doc":
            sum(len(tr) for _, tr in tagged) / n,
        "detect.arrow_build.us_per_doc": (batch - tag) * us,
    }
