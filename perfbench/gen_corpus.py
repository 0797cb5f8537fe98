"""Seeded synthetic training corpus plus its oracle answer.

Documents come in 5 languages from 20 sources.  About 10% are exact
duplicates of an earlier document (some differ only in whitespace, so the
normalize step matters), about 10% are near-duplicates (a few tokens
changed, so 3-gram shingle Jaccard stays high), and a hot paragraph is
planted in about 2% of them, which skews the substring-dedup election onto
one set of grams.  Token counts straddle the quality band and some
documents repeat one word, so the quality gate drops rows too.

The expected output is computed once per corpus by DuckDB from the
registry's own oracle SQL for ``llm_curation_recipe`` (with the recipe's
cap) followed by the oracle SQL for ``llm_substring_dedup`` on the
surviving, normalized documents.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re

VERSION = 2
LANGS = ("en", "de", "fr", "es", "it")
N_SOURCES = 20
N_FILES = 8
HOT_PARAGRAPH = (
    "this paragraph is boilerplate copied into many pages of the crawl "
    "it carries a license notice and a cookie banner and a footer link "
    "that every scraper sees again and again"
)


def _vocab(rng: random.Random, lang: str, n: int = 600) -> list[str]:
    syl = ("ka", "lo", "mi", "ne", "su", "ta", "re", "vo", "di", "pa", "zu", "el", "or", "an")
    words = set()
    while len(words) < n:
        words.add(lang[0] + "".join(rng.choice(syl) for _ in range(rng.randint(1, 3))))
    return sorted(words)


def generate(out_dir: str, n_docs: int, seed: int) -> None:
    """Write the corpus as ``N_FILES`` parquet files under ``out_dir``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    vocabs = {lang: _vocab(rng, lang) for lang in LANGS}
    docs: list[tuple[str, str, str]] = []  # (text, lang, source)
    for i in range(n_docs):
        r = rng.random()
        source = f"src{rng.randrange(N_SOURCES):02d}"
        if docs and r < 0.10:
            text, lang, _ = docs[rng.randrange(len(docs))]
            if rng.random() < 0.5:
                text = "  " + text.replace(" ", "  ", 3) + " "
        elif docs and r < 0.20:
            text, lang, _ = docs[rng.randrange(len(docs))]
            toks = text.split()
            vocab = vocabs[lang]
            for _ in range(max(1, len(toks) // 25)):
                toks[rng.randrange(len(toks))] = rng.choice(vocab)
            text = " ".join(toks)
        else:
            lang = rng.choice(LANGS)
            vocab = vocabs[lang]
            n_tok = rng.randint(12, 110)
            if rng.random() < 0.03:
                toks = [rng.choice(vocab)] * n_tok
            else:
                # skewed toward low ranks, but flat enough that unrelated
                # documents rarely share a 3-gram shingle
                toks = [vocab[int(len(vocab) * rng.random() ** 2)] for _ in range(n_tok)]
            if rng.random() < 0.02:
                cut = rng.randrange(len(toks) + 1)
                toks = toks[:cut] + HOT_PARAGRAPH.split() + toks[cut:]
            text = " ".join(toks)
        docs.append((text, lang, source))
    os.makedirs(out_dir, exist_ok=True)
    per = -(-n_docs // N_FILES)
    for f in range(N_FILES):
        part = docs[f * per : (f + 1) * per]
        ids = list(range(f * per, f * per + len(part)))
        table = pa.table(
            {
                "doc_id": pa.array(ids, type=pa.int64()),
                "text": [d[0] for d in part],
                "lang": [d[1] for d in part],
                "source": [d[2] for d in part],
                "n_chars": pa.array([len(d[0]) for d in part], type=pa.int64()),
            }
        )
        pq.write_table(table, os.path.join(out_dir, f"part-{f:02d}.parquet"))


def digest(rows) -> str:
    """Order-independent digest of (doc_id, lang, text) rows."""
    h = hashlib.sha256()
    for doc_id, lang, text in sorted(rows):
        h.update(f"{doc_id}\x1f{lang}\x1f{text}\x1e".encode())
    return h.hexdigest()


def _connect():
    import duckdb

    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    # bounded, so the oracle spills instead of crowding out the benchmark
    con.execute("SET memory_limit = '1GB'")
    con.execute("SET threads = 2")
    return con


def oracle(corpus_dir: str, cap: int) -> dict:
    """Expected output of ``Curate.default_recipe(docs, cap=cap)
    .substring_dedup()`` from the registry's DuckDB oracles."""
    from osmdatapy_spark.suite import QUERY_REGISTRY

    recipe_sql = QUERY_REGISTRY["llm_curation_recipe"].oracle
    # the registered face caps at 10 per source; the recipe default is
    # a parameter of the same SQL
    capped, n = re.subn(r"rk <= 10\b", f"rk <= {int(cap)}", recipe_sql)
    if n != 1:
        raise RuntimeError("llm_curation_recipe oracle no longer has one 'rk <= 10' cap")
    substr_sql = QUERY_REGISTRY["llm_substring_dedup"].oracle
    con = _connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{corpus_dir}/*.parquet')"
        )
        con.execute(f"CREATE TABLE survivors AS {capped}")
        con.execute(
            r"""CREATE TABLE normalized AS
            SELECT d.doc_id, d.lang, regexp_replace(trim(d.text), '\s+', ' ', 'g') AS text
            FROM documents d JOIN survivors s USING (doc_id)"""
        )
        n_in = con.execute("SELECT count(*) FROM documents").fetchone()[0]
        in_bytes = 0
        for f in os.listdir(corpus_dir):
            in_bytes += os.path.getsize(os.path.join(corpus_dir, f))
        sub = _connect()
        try:
            sub.register("documents", con.execute("SELECT doc_id, text FROM normalized").arrow())
            deduped = dict(sub.execute(f"SELECT doc_id, text_deduped FROM ({substr_sql})").fetchall())
        finally:
            sub.close()
        langs = dict(con.execute("SELECT doc_id, lang FROM normalized").fetchall())
    finally:
        con.close()
    return {
        "rows_in": n_in,
        "rows_out": len(deduped),
        "input_bytes": in_bytes,
        "digest": digest((i, langs[i], t) for i, t in deduped.items()),
    }


def cached(cache_dir: str, n_docs: int, seed: int, cap: int) -> tuple[str, dict, float]:
    """(corpus dir, expected, generation+oracle seconds — 0.0 on a hit)."""
    import shutil
    import time

    key = f"corpus-v{VERSION}-n{n_docs}-s{seed}-cap{cap}"
    path = os.path.join(cache_dir, key)
    exp_path = path + ".json"
    if os.path.isdir(path) and os.path.exists(exp_path):
        with open(exp_path) as f:
            return path, json.load(f), 0.0
    t0 = time.perf_counter()
    shutil.rmtree(path, ignore_errors=True)
    generate(path, n_docs, seed)
    expected = oracle(path, cap)
    with open(exp_path + ".tmp", "w") as f:
        json.dump(expected, f)
    os.replace(exp_path + ".tmp", exp_path)
    return path, expected, time.perf_counter() - t0
