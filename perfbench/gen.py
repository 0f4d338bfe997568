"""Seeded input generators for the benchmark workloads.

Each generator writes only plain input files (parquet, a DuckDB database
file) under ``out_dir`` and returns a description of what it wrote: row
counts per table, the logical input size (in-memory Arrow bytes) and the
facts the correctness checks need. The program under test receives only
the files. Everything runs in this process with numpy/pyarrow/duckdb; no
Spark session exists while a generator runs, and the DuckDB source is
checkpointed and closed before the generator returns.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EPOCH_2024 = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp())

#: the where filter of the jdbc_sql_native accounts table; valid in Spark
#: SQL and DuckDB alike, so the filtered rows are checked against DuckDB
ACCOUNTS_WHERE = "balance >= 0"
#: the two PII-like columns of the accounts table and their masquerade
ACCOUNTS_PII = {
    "email": [("random_uuid", {"seed": 7})],
    "full_name": [("random_string", {"seed": 11})],
}

#: stop-words of each corpus language; documents mix them into generated
#: pseudo-words, and the localized Gopher gate counts them
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is"],
    "de": ["der", "die", "und", "das", "ist", "mit"],
    "fr": ["le", "la", "et", "les", "des", "est"],
    "es": ["el", "la", "y", "los", "las", "de"],
}
STOPWORDS = ",".join(sorted({w for ws in LANG_STOPWORDS.values() for w in ws}))
SOURCES = ("web", "news", "forum", "books", "wiki")
BOILERPLATE = [
    "click here to subscribe to our newsletter",
    "all rights reserved by the site owner",
    "share this page with your friends",
]


def _null_mask(rng, n: int, rate: float) -> np.ndarray:
    return rng.random(n) < rate


def _decimal_cents(cents: np.ndarray, mask: np.ndarray, precision: int = 16):
    """decimal(precision, 2) array holding ``cents / 100``, NULL where
    ``mask``: the int128 unscaled values are built directly."""
    cents = np.asarray(cents, dtype="int64")
    words = np.empty((len(cents), 2), dtype="int64")
    words[:, 0] = cents
    words[:, 1] = np.where(cents < 0, -1, 0)
    arr = pa.Array.from_buffers(pa.decimal128(precision, 2), len(cents),
                                [None, pa.py_buffer(words.tobytes())])
    return pc.if_else(pa.array(mask), pa.scalar(None, arr.type), arr)


def _names(rng, n: int, prefix: str) -> np.ndarray:
    first = np.array(["Ada", "Bo", "Cy", "Dee", "Eli", "Fay", "Gus", "Hal"])
    return np.char.add(np.char.add(first[rng.integers(0, len(first), n)], f" {prefix}"),
                       rng.integers(1000, 99999, n).astype(str))


#: string fragments that stress SQL literal escaping and the INSERT parser
TRICKY = ["O'Brien", 'say "hi"', "back\\slash", "two\nlines", "tab\there",
          "naïve café", "Ærøskøbing", "日本語テキスト", "emoji 🚀", "semi;colon",
          "paren (x, y)", "comma, inside", "'quoted'", "\\'mixed\\'", ""]


def _tricky_strings(rng, n: int, null_rate: float) -> pa.Array:
    frag = np.array(TRICKY, dtype=object)
    a = frag[rng.integers(0, len(frag), n)]
    b = rng.integers(0, 10**6, n).astype(str).astype(object)
    return pa.array(a + " #" + b, type=pa.string(), mask=_null_mask(rng, n, null_rate))


def _gappy_ids(rng, n: int) -> np.ndarray:
    """Auto-increment-like primary keys over [1, 10n): sparse ids with gaps,
    plus one dense run of consecutive ids (a bulk insert) at a fixed place
    in the range, so the skew of a range-partitioned scan is the same for
    every seed."""
    dense = n * 3 // 10
    dense_ids = np.arange(6 * n, 6 * n + dense, dtype="int64")
    pool = np.setdiff1d(np.arange(1, 10 * n, dtype="int64"), dense_ids)
    sparse = rng.choice(pool, size=n - dense, replace=False)
    return np.sort(np.concatenate([dense_ids, sparse]))


def gen_jdbc_sql_native(out_dir: str, rng, rows: int = 4_000) -> dict:
    """A DuckDB database file holding three tables with gappy integer keys
    and escaping-hostile strings; written, checkpointed and closed here.
    The accounts table also carries two PII-like columns."""
    import duckdb

    n = rows
    acc_ids = _gappy_ids(rng, n)
    accounts = pa.table({
        "id": pa.array(acc_ids),
        "handle": _tricky_strings(rng, n, 0.05),
        "email": pa.array(np.char.add(np.char.add("user", acc_ids.astype(str)),
                                      "@example.com"), mask=_null_mask(rng, n, 0.05)),
        "full_name": pa.array(_names(rng, n, "Holder"), mask=_null_mask(rng, n, 0.05)),
        "balance": _decimal_cents(rng.integers(-10**7, 10**8, n), _null_mask(rng, n, 0.02), 14),
        "score": pa.array(np.round(rng.normal(0, 100, n), 3), mask=_null_mask(rng, n, 0.05)),
        "active": pa.array(rng.random(n) < 0.8),
        "opened_at": pa.array((EPOCH_2024 - rng.integers(0, 3 * 365 * 86400, n)) * 1_000_000,
                              type=pa.timestamp("us")),
    })
    m = n * 3 // 2
    messages = pa.table({
        "id": pa.array(_gappy_ids(rng, m)),
        "account_id": pa.array(acc_ids[rng.integers(0, n, m)]),
        "body": _tricky_strings(rng, m, 0.1),
        "n_words": pa.array(rng.integers(0, 500, m).astype("int32")),
        "sent_at": pa.array((EPOCH_2024 + rng.integers(0, 365 * 86400, m)) * 1_000_000,
                            type=pa.timestamp("us")),
    })
    k = n // 2
    audit = pa.table({
        "id": pa.array(_gappy_ids(rng, k).astype("int32")),
        "action": pa.array(np.array(["login", "logout", "update", "delete"])[
            rng.integers(0, 4, k)]),
        "detail": _tricky_strings(rng, k, 0.3),
        "amount": _decimal_cents(rng.integers(0, 10**6, k), _null_mask(rng, k, 0.1), 12),
    })
    tables = {"accounts": accounts, "messages": messages, "audit_log": audit}
    path = os.path.join(out_dir, "src.duckdb")
    con = duckdb.connect(path)
    try:
        for t, tbl in tables.items():
            con.register("arrow_src", tbl)
            cols = con.execute("DESCRIBE SELECT * FROM arrow_src").fetchall()
            ddl = ", ".join(f"{c[0]} {c[1]}" for c in cols)
            con.execute(f"CREATE TABLE {t} ({ddl}, PRIMARY KEY (id))")
            con.execute(f"INSERT INTO {t} SELECT * FROM arrow_src")
            con.unregister("arrow_src")
        con.execute("CHECKPOINT")
        types = {t: [(r[0], r[1]) for r in con.execute(f"DESCRIBE {t}").fetchall()]
                 for t in tables}
    finally:
        con.close()
    return {
        "source": path,
        "rows": {t: tbl.num_rows for t, tbl in tables.items()},
        "logical_bytes": sum(tbl.nbytes for tbl in tables.values()),
        "duck_types": types,
        "pii": {c: set(accounts.column(c).drop_null().to_pylist()) for c in ACCOUNTS_PII},
    }


def _vocabulary(rng, lang: str, size: int) -> np.ndarray:
    """Pseudo-words from per-language syllables (a-z plus a few accented
    letters), so word 3-grams rarely collide by chance across documents."""
    cons = {"en": "bcdfghklmnprstvw", "de": "bdfghklmnprstwz",
            "fr": "bcdfglmnprstv", "es": "bcdfglmnprstv"}[lang]
    vows = {"en": "aeiou", "de": "aeiouü", "fr": "aeiouéè", "es": "aeioúñ"}[lang]
    words = set()
    while len(words) < size:
        k = int(rng.integers(2, 4))
        words.add("".join(cons[rng.integers(0, len(cons))] + vows[rng.integers(0, len(vows))]
                          for _ in range(k)))
    return np.array(sorted(words))


def _doc_text(rng, vocab: np.ndarray, stops: np.ndarray, n_lines: int) -> str:
    lines = []
    for _ in range(n_lines):
        w = int(rng.integers(8, 15))
        toks = np.where(rng.random(w) < 0.15, stops[rng.integers(0, len(stops), w)],
                        vocab[rng.integers(0, len(vocab), w)])
        lines.append(" ".join(toks) + ".")
    return "\n".join(lines)


def gen_corpus_prepare(out_dir: str, rng, n_docs: int = 400,
                       n_eval: int = 20) -> dict:
    """A multi-language, multi-source documents parquet with controlled
    shares of exact duplicates, near-duplicates, boilerplate lines,
    internally repetitive and too-short documents, plus an eval parquet of
    which half the documents are copied from the corpus."""
    langs = np.array(sorted(LANG_STOPWORDS))
    vocab = {lang: _vocabulary(rng, lang, 3000) for lang in langs}
    stops = {lang: np.array(ws) for lang, ws in LANG_STOPWORDS.items()}
    texts, lang_of = [], []
    # exact shares, so every seed gives each stage the same amount of work
    shares = {"exact": 0.08, "near": 0.08, "boiler": 0.12, "repeat": 0.05, "short": 0.05}
    counts = [int(f * n_docs) for f in shares.values()]
    kinds = np.repeat(list(shares) + ["clean"], counts + [n_docs - sum(counts)])
    rng.shuffle(kinds)
    first_clean = np.flatnonzero(kinds == "clean")[0]
    kinds[[0, first_clean]] = kinds[[first_clean, 0]]  # copies need an earlier doc
    for i, kind in enumerate(kinds):
        lang = langs[rng.integers(0, len(langs))]
        if kind in ("exact", "near") and i > 0:
            j = int(rng.integers(0, i))
            t, lang = texts[j], lang_of[j]
            if kind == "near":
                toks = t.split(" ")
                for p in rng.integers(0, len(toks), 2):
                    toks[p] = vocab[lang][rng.integers(0, len(vocab[lang]))]
                t = " ".join(toks)
        elif kind == "repeat":
            line = _doc_text(rng, vocab[lang], stops[lang], 1)
            t = "\n".join([line] * 8)
        elif kind == "short":
            t = _doc_text(rng, vocab[lang], stops[lang], 2)
        else:
            t = _doc_text(rng, vocab[lang], stops[lang], int(rng.integers(7, 13)))
            if kind == "boiler":
                t += "\n" + BOILERPLATE[rng.integers(0, len(BOILERPLATE))]
        texts.append(t)
        lang_of.append(lang)
    doc_ids = np.arange(1, n_docs + 1, dtype="int64")
    docs = pa.table({
        "doc_id": pa.array(doc_ids),
        "source": pa.array(np.array(SOURCES)[rng.integers(0, len(SOURCES), n_docs)]),
        "lang": pa.array(lang_of),
        "text": pa.array(texts),
    })
    clean = np.flatnonzero(kinds == "clean")
    copied = rng.choice(clean, size=n_eval // 2, replace=False)
    eval_texts = [texts[i] for i in copied]
    for _ in range(n_eval - len(eval_texts)):
        lang = langs[rng.integers(0, len(langs))]
        eval_texts.append(_doc_text(rng, vocab[lang], stops[lang], 8))
    evals = pa.table({
        "doc_id": pa.array(np.arange(1, n_eval + 1, dtype="int64")),
        "text": pa.array(eval_texts),
    })
    docs_path = os.path.join(out_dir, "docs.parquet")
    eval_path = os.path.join(out_dir, "eval.parquet")
    pq.write_table(docs, docs_path)
    pq.write_table(evals, eval_path)
    # every gate must keep documents: clean, unduplicated documents that
    # are not copied into the eval set pass dedup, the Gopher and
    # repetition gates and decontamination by construction
    survivors = len(set(clean) - set(copied))
    if survivors == 0 or len(copied) == 0:
        raise ValueError("corpus generator left a prepare stage without work")
    return {
        "docs": docs_path,
        "eval": eval_path,
        "rows": {"docs": n_docs, "eval": n_eval},
        "logical_bytes": docs.nbytes + evals.nbytes,
        "eval_texts": eval_texts,
        "stopwords": STOPWORDS,
    }


GENERATORS = {
    "jdbc_sql_native": gen_jdbc_sql_native,
    "corpus_prepare": gen_corpus_prepare,
}


def generate(workload: str, out_dir: str, seed: int) -> dict:
    """Write the inputs of ``workload`` for ``seed`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    return GENERATORS[workload](out_dir, rng)
