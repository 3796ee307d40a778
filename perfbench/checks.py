"""Output checks, computed apart from the program.

`queries(run_dir, data_dir)` compares every query result that the last pass
wrote with DuckDB running the query's oracle SQL (`SparkEntry.oracleSql`)
on the same parquet tables: columns sorted by name, rows sorted, values
equal.

`curation(run_dir, data_dir)` recomputes the curation DAG's rules in plain
Python from the documents table and checks the datasets the models wrote,
for the cold build (eval slice A) and for the incremental re-run (slice B).

Each returns a list of problems; an empty list means the outputs are right.
"""
import glob
import hashlib
import json
import os
import re
from collections import Counter, defaultdict

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

def _read_dir(path):
    """All parquet files under a dataset directory (or one file)."""
    files = [path] if os.path.isfile(path) else sorted(
        glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    if not files:
        return None
    return pa.concat_tables([pq.read_table(f) for f in files],
                            promote_options="default")


def _canon(table):
    cols = sorted(table.column_names)
    rows = [tuple(r[c] for c in cols) for r in table.select(cols).to_pylist()]
    rows.sort(key=lambda r: tuple((v is None, str(v)) for v in r))
    return cols, rows


def queries(run_dir, data_dir):
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(os.path.join(run_dir, "oracle_sql.json")))
    problems = []
    for name, sql in sorted(oracle.items()):
        got = _read_dir(os.path.join(run_dir, "results", name))
        if got is None:
            problems.append(f"{name}: no result written")
            continue
        sc, sr = _canon(got)
        dc, dr = _canon(con.sql(sql).arrow())
        if sc != dc:
            problems.append(f"{name}: columns {sc} != oracle {dc}")
        elif sr != dr:
            bad = next((i for i, (a, b) in enumerate(zip(sr, dr)) if a != b),
                       min(len(sr), len(dr)))
            problems.append(f"{name}: {len(sr)} rows vs oracle {len(dr)};"
                            f" first difference at sorted row {bad}")
    return problems


# -- curation DAG ------------------------------------------------------------

def _norm(text):
    """NearDedupDocs' normalization: lower case, non [a-z0-9 ] to a space,
    runs of spaces to one."""
    return re.sub(" +", " ", re.sub("[^a-z0-9 ]", " ", text.lower()))


def _grams3(norm):
    """Distinct word 3-grams; a text under three tokens is its own shingle
    for near-dedup and has no grams for decontamination."""
    t = norm.split(" ")
    return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}


def _shingles(norm):
    return _grams3(norm) if len(norm.split(" ")) >= 3 else {norm}


def _passes_gates(norm):
    """QualityGateDocs with its defaults: 15..100000 tokens, duplicate-token
    share <= 0.75, top-bigram share <= 0.25."""
    t = norm.split(" ")
    n = len(t)
    dup = (n - len(set(t))) / n
    bigrams = Counter(t[i] + " " + t[i + 1] for i in range(n - 1))
    top = max(bigrams.values()) / (n - 1) if n > 1 else 0.0
    return 15 <= n <= 100000 and dup <= 0.75 and top <= 0.25


def _docs(path):
    t = _read_dir(path)
    if t is None:
        return {}
    return {r["doc_id"]: r for r in t.to_pylist()}


def _check_state(d, docs, eval_ids, cap, label):
    """The properties of one written state of the DAG."""
    p = []
    stages = ["deduped", "unique", "clean", "mixed", "sharded"]
    out = {s: _docs(os.path.join(d, s)) for s in stages}
    # each stage's output is a subset of its input, text unchanged
    upstream = docs
    for s in stages:
        for i, r in out[s].items():
            if i not in upstream or r["text"] != upstream[i]["text"]:
                p.append(f"{label}: {s} doc {i} is not in its input unchanged")
                break
        upstream = out[s]
    norms = {i: _norm(r["text"]) for i, r in docs.items()}
    # kept docs have distinct normalized text
    kept = [norms[i] for i in out["deduped"]]
    if len(set(kept)) != len(kept):
        p.append(f"{label}: deduped docs share a normalized text")
    # every near-dup removal is justified by some other input doc
    sh = {i: _shingles(n) for i, n in norms.items()}
    index = defaultdict(set)
    for i, s in sh.items():
        for g in s:
            index[g].add(i)
    for i in sorted(set(docs) - set(out["deduped"])):
        cands = set().union(*(index[g] for g in sh[i])) - {i}
        if not any(len(sh[i] & sh[j]) / len(sh[i] | sh[j]) >= 0.8 for j in cands):
            p.append(f"{label}: doc {i} removed as a near-duplicate of nothing")
            break
    # quality gates decide exactly the kept set
    for i in out["deduped"]:
        if _passes_gates(norms[i]) != (i in out["unique"]):
            p.append(f"{label}: quality gates disagree on doc {i}")
            break
    # decontamination against the eval slice
    probe = set().union(*(_grams3(_norm(docs[i]["text"])) for i in eval_ids))
    for i in out["unique"]:
        hit = len(_grams3(norms[i]) & probe) >= 2
        if hit == (i in out["clean"]):
            p.append(f"{label}: decontamination wrong on doc {i} (hits>=2: {hit})")
            break
    # domain mix: at most `cap` per language, all kept under the cap, and
    # over the cap the first `cap` by md5("mix:" + doc_id), then doc_id
    by_lang = defaultdict(list)
    for i, r in out["clean"].items():
        by_lang[r["lang"]].append(i)
    for lang, ids in by_lang.items():
        ranked = sorted(ids, key=lambda i: (
            hashlib.md5(f"mix:{i}".encode()).hexdigest(), i))
        want = set(ranked[:cap])
        have = {i for i, r in out["mixed"].items() if r["lang"] == lang}
        if have != want:
            p.append(f"{label}: language {lang} kept {len(have)} docs,"
                     f" expected {len(want)} (cap {cap})")
    # shards and manifest agree with the mixed corpus
    manifest = _read_dir(os.path.join(d, "manifest"))
    n_manifest = sum(manifest.column("n_docs").to_pylist()) if manifest else -1
    if not len(out["sharded"]) == n_manifest == len(out["mixed"]):
        p.append(f"{label}: sharded {len(out['sharded'])}, manifest"
                 f" {n_manifest}, mixed {len(out['mixed'])} rows differ")
    return p, {s: len(v) for s, v in out.items()}


def curation(run_dir, data_dir):
    meta = json.load(open(os.path.join(run_dir, "curation.json")))
    docs = _docs(os.path.join(data_dir, "documents.parquet"))
    cap = meta["cap_per_lang"]
    problems = []
    rows = {}
    for key in ("a", "b"):
        lo, hi = meta[f"slice_{key}"]
        eval_ids = [i for i in docs if lo <= i < hi]
        p, rows[key] = _check_state(meta[f"slice_{key}_dir"], docs, eval_ids,
                                    cap, f"slice {key.upper()}")
        problems += p
    # the cold build's counters match what it wrote
    c = meta["counters_a"]
    want = {"NearDedupDocs.docs_in": len(docs),
            "NearDedupDocs.docs_kept": rows["a"]["deduped"],
            "QualityGateDocs.docs_kept": rows["a"]["unique"],
            "DecontaminateDocs.docs_kept": rows["a"]["clean"],
            "DomainMixDocs.docs_kept": rows["a"]["mixed"]}
    for k, v in want.items():
        if c.get(k) != v:
            problems.append(f"cold build counter {k} = {c.get(k)}, wrote {v}")
    # the re-run rebuilt only what slice B made stale
    for s in ("deduped", "unique"):
        if rows["a"][s] != rows["b"][s]:
            problems.append(f"{s} changed on the re-run, which should skip it")
    return problems
