#!/usr/bin/env python3
"""Input generator of the graft benchmark.

Places two input sets:

* ``tables``: a benchmark-owned copy of graft's sf0.1 test tables (the
  TPC-H-ish star schema plus ``events``, ``documents`` and
  ``embeddings``), kept in ``perfbench/sf0.1``. The copy lives at its
  own path, so graft's path-keyed staging of it never collides with
  runs on another copy. ``registry_mix`` queries it.
* ``corpus``: the word-count corpus of ``corpus_wordcount``, a pure
  function of the seed. Documents draw words from a Zipf vocabulary and
  join them with reference-style ``[punct|space]+`` separators. The
  same documents are written twice, split over many files: as
  ``documents.parquet/part-*.parquet`` (what graft's
  ``Tables.documents`` reads) and as ``text/part-*.txt``, one document
  per line (the reference's directory of text files).

Each set gets a ``manifest.json`` with its sizes (bytes, rows,
vocabulary) and a SHA-256 digest of its file contents. A set whose
manifest matches the requested parameters is reused, not rewritten.

Usage: gen.py --seed N --out DIR
"""
import argparse
import hashlib
import json
import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 2
HERE = os.path.dirname(os.path.abspath(__file__))
TABLES_SRC = os.path.join(HERE, "sf0.1")
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
CORPUS_MB = 24
CORPUS_FILES = 16
VOCABULARY = 200_000
# Words `wc_grep` matches ('join.*filter|filter.*join'), placed at
# fixed Zipf ranks so a stable share of documents match.
GREP_WORDS = {40: "join", 90: "filter"}


def rng_for(seed, stream):
    return np.random.default_rng([seed, stream])


def place_tables(out):
    """Copy the sf0.1 tables into `out`."""
    rows = {}
    for name in sorted(os.listdir(TABLES_SRC)):
        if name.endswith(".parquet"):
            shutil.copyfile(os.path.join(TABLES_SRC, name), os.path.join(out, name))
            rows[name[:-len(".parquet")]] = pq.ParquetFile(
                os.path.join(out, name)).metadata.num_rows
    texts = pq.read_table(os.path.join(out, "documents.parquet"),
                          columns=["text"]).column("text").to_pylist()
    words = {w for t in texts if t for w in re.split(r"[\W_]+", t) if w}
    return {"rows": rows, "vocabulary": len(words)}


def vocabulary(rng, size):
    """`size` distinct lowercase words, shortest first."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    seen, out = set(GREP_WORDS.values()), []
    while len(out) < size:
        lens = rng.integers(2, 11, size)
        draws = letters[rng.integers(0, 26, (size, 10))]
        for n, row in zip(lens, draws):
            w = "".join(row[:n])
            if w not in seen:
                seen.add(w)
                out.append(w)
    out = sorted(out[:size], key=len)
    for rank, w in GREP_WORDS.items():
        out.insert(rank, w)
    return np.array(out[:size], dtype=object)


def make_corpus(seed, out, mb):
    """Zipf-vocabulary documents, about `mb` MB of text."""
    r = rng_for(seed, 100)
    vocab_size = VOCABULARY
    vocab = vocabulary(r, vocab_size)
    p = 1.0 / np.arange(1, vocab_size + 1) ** 1.05
    cdf = np.cumsum(p / p.sum())
    # ~4 bytes per token with its separator (short words dominate)
    n_tokens = int(mb * 1e6 / 4.0)
    lens = r.integers(20, 121, n_tokens // 70)
    idx = np.minimum(np.searchsorted(cdf, r.random(int(lens.sum()))),
                     vocab_size - 1)
    seps = np.array([", ", ". ", "; ", " - ", "! ", "? ", ": ", " (", ") ",
                     "... ", "\t", " / ", '" '], dtype=object)
    toks = vocab[idx] + " "
    odd = np.flatnonzero(r.random(len(idx)) < 0.15)
    toks[odd] = vocab[idx[odd]] + seps[r.integers(0, len(seps), len(odd))]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = ["".join(toks[a:b]).rstrip() for a, b in zip(bounds[:-1], bounds[1:])]
    n_doc = len(texts)
    ids = np.arange(n_doc, dtype=np.int64)
    source = np.array([f"src{i}" for i in range(20)])[ids % 20]
    lang = np.array(LANGS)[r.choice(len(LANGS), n_doc, p=LANG_P)]
    pdir = os.path.join(out, "documents.parquet")
    tdir = os.path.join(out, "text")
    os.makedirs(pdir)
    os.makedirs(tdir)
    cut = np.linspace(0, n_doc, CORPUS_FILES + 1).astype(int)
    for f, (a, b) in enumerate(zip(cut[:-1], cut[1:])):
        chunk = texts[a:b]
        pq.write_table(pa.table({
            "doc_id": ids[a:b], "text": chunk, "lang": lang[a:b],
            "source": source[a:b],
            "n_chars": np.array([len(t) for t in chunk], dtype=np.int64)}),
            os.path.join(pdir, f"part-{f:05d}.parquet"))
        with open(os.path.join(tdir, f"part-{f:05d}.txt"), "w") as fh:
            fh.write("\n".join(chunk) + "\n")
    used = len(np.unique(idx))
    return {"rows": {"documents": n_doc, "tokens": int(len(idx))},
            "vocabulary": used,
            "text_bytes": sum(len(t) + 1 for t in texts)}


def digest_dir(path):
    h, total = hashlib.sha256(), 0
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            if name == "manifest.json":
                continue
            full = os.path.join(root, name)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as fh:
                data = fh.read()
            h.update(data)
            total += len(data)
    return h.hexdigest(), total


def ensure(kind, seed, out, **params):
    """Generate one input set into `out` unless an identical one is there."""
    want = {"kind": kind, "seed": seed, "version": GENERATOR_VERSION, **params}
    mpath = os.path.join(out, "manifest.json")
    if os.path.exists(mpath):
        with open(mpath) as fh:
            have = json.load(fh)
        if {k: have.get(k) for k in want} == want:
            return have
    if os.path.exists(out):
        shutil.rmtree(out)
    tmp = out + ".tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    if kind == "tables":
        info = place_tables(tmp)
    else:
        info = make_corpus(seed, tmp, params["mb"])
    digest, nbytes = digest_dir(tmp)
    manifest = {**want, **info, "bytes": nbytes, "sha256": digest}
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1)
    os.rename(tmp, out)
    return manifest


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(ensure("tables", None, os.path.join(a.out, "tables"))))
    print(json.dumps(ensure("corpus", a.seed, os.path.join(a.out, f"corpus-{a.seed}"),
                            mb=CORPUS_MB)))


if __name__ == "__main__":
    main()
