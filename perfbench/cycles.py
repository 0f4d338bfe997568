"""One iteration ("cycle") of each workload, driven through the program's
public entry points, plus the correctness checks run on its outputs.

A cycle times only the program's calls. The checks run after the timed
calls and are independent of the program's own verify path where the
workload allows it: DuckDB computes the reference numbers.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import time

from gen import ACCOUNTS_PII, ACCOUNTS_WHERE


class Tally:
    """Operations attempted and failed. A failed correctness check counts
    as a failed operation."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, what: str, ok: bool) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Spark's checksum and marker
    files are not data."""
    total = files = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            if f.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(dp, f))
            if f.endswith((".parquet", ".sql")) or f.startswith("part-"):
                files += 1
    return total, files


def _timed(fn, *args, **kw):
    t0 = time.perf_counter()
    out = fn(*args, **kw)
    return out, time.perf_counter() - t0


def dump_verify_restore(spark, source: str, cfg_kw: dict, it_dir: str,
                        nproc: int, table_done=None) -> dict:
    """engine.dump → verify_manifest → engine.restore (with its L9 verify)
    into a parquet tree. Returns phase times and the raw results.
    ``table_done`` is passed to the dump as its per-table completion
    callback."""
    from mydumper_spark import engine
    from mydumper_spark.sinks import manifest

    dump_dir = os.path.join(it_dir, "dump")
    restore_dir = os.path.join(it_dir, "restore")
    cfg = engine.DumpConfig(output_dir=dump_dir, table_done=table_done, **cfg_kw)
    man, t_dump = _timed(engine.dump, spark, source, cfg)
    ver, t_verify = _timed(manifest.verify_manifest, spark, dump_dir)
    res, t_restore = _timed(engine.restore, spark, dump_dir, restore_dir,
                            parallelism=nproc)
    return {"phases": {"dump": t_dump, "verify": t_verify, "restore": t_restore},
            "manifest": man, "verify": ver, "restore": res,
            "dump_dir": dump_dir, "restore_dir": restore_dir}


def check_round_trip(out: dict, expected_rows: dict, tally: Tally) -> None:
    """Manifest rows equal the generator's counts; every verify_manifest and
    restore() verify result is true."""
    man = out["manifest"]
    tally.record("manifest tables",
                 set(man.tables) == set(expected_rows))
    for t, n in expected_rows.items():
        e = man.tables.get(t)
        tally.record(f"manifest rows {t}", e is not None and e.rows == n)
    for t, r in out["verify"].items():
        tally.record(f"verify {t}", r.get("ok") is True)
    res = out["restore"]
    for t in expected_rows:
        tally.record(f"restore load {t}", res.get("load", {}).get(t) is True)
        tally.record(f"restore verify {t}", res.get("verify", {}).get(t) is True)


class JdbcSqlNative:
    """DuckDB over JDBC → fmt="sql" dump in nproc chunks per table, with a
    where filter and masquerade on the accounts table → verify (INSERT
    parser) → restore into a parquet tree. The restored tree is checked
    against DuckDB's own md5 checksum of the source tables (for accounts:
    over the unmasked columns of the filtered rows)."""

    #: untimed cycles after the cold one: JIT warm-up still shortens the
    #: next cycles (measured 5.8, 5.9, 5.1, 5.0, 4.9 s); one is what the
    #: run's time allows
    warmup_iters = 1

    def __init__(self, inputs: dict, nproc: int):
        import duckdb

        from mydumper_spark.functions.checksum import oracle_checksum_sql
        from mydumper_spark.operators.transform import TableTransform

        self.inputs, self.nproc = inputs, nproc
        self.url = f"jdbc:duckdb:{inputs['source']}"
        self.cfg_kw = {
            "fmt": "sql", "checksum": True, "chunks_per_table": nproc,
            "dump_threads": nproc, "rows_per_statement": 500,
            "statement_size": 256 * 1024,
            "jdbc_properties": {"driver": "org.duckdb.DuckDBDriver",
                                "duckdb.read_only": "true"},
            "per_table": {"accounts": TableTransform(
                where=ACCOUNTS_WHERE, masquerade=dict(ACCOUNTS_PII))},
        }
        #: table → (columns checked, checksum, rows) computed by DuckDB
        self.oracle = {}
        con = duckdb.connect(inputs["source"], read_only=True)
        try:
            for t, fields in inputs["duck_types"].items():
                where = ACCOUNTS_WHERE if t == "accounts" else None
                fields = [f for f in fields
                          if t != "accounts" or f[0] not in ACCOUNTS_PII]
                cs, rows = con.execute(oracle_checksum_sql(t, fields, where)).fetchone()
                self.oracle[t] = ([f[0] for f in fields], cs, rows)
        finally:
            con.close()
        self.expected_rows = {t: o[2] for t, o in self.oracle.items()}

    def cycle(self, spark, it_dir: str, table_done=None) -> dict:
        return dump_verify_restore(spark, self.url, self.cfg_kw, it_dir,
                                   self.nproc, table_done)

    def check(self, spark, out: dict, tally: Tally) -> None:
        from mydumper_spark.functions.checksum import table_checksum

        check_round_trip(out, self.expected_rows, tally)
        for t, (cols, checksum, rows) in self.oracle.items():
            df = spark.read.parquet(os.path.join(out["restore_dir"], f"{t}.parquet"))
            cs = table_checksum(df, cols, algorithm="md5")
            tally.record(f"oracle checksum {t}",
                         (cs["checksum"], cs["rows"]) == (checksum, rows))
            if t == "accounts":
                for c in ACCOUNTS_PII:
                    masked = {r[0] for r in df.select(c).dropna().collect()}
                    tally.record(f"masquerade {c}", not masked & self.inputs["pii"][c])


CHUNK_TOKENS = 48
CHUNK_OVERLAP = 8
MIN_SHARED = 3


def _shingles(tokens: list[str], n: int = 3) -> set[str]:
    if len(tokens) < n:
        return {" ".join(tokens)}
    return {" ".join(tokens[i:i + n]) for i in range(len(tokens) - n + 1)}


class CorpusPrepare:
    """`prepare` in-process via cli.main with every dedup, gate,
    decontamination and chunking stage on; the curated chunks are then
    shipped as a checksummed parquet dump, verified and restored."""

    #: a cycle takes 11-14 s, so no untimed warm-up cycle fits the run
    warmup_iters = 0

    def __init__(self, inputs: dict, nproc: int):
        self.inputs, self.nproc = inputs, nproc
        self.eval_shingles = [_shingles(t.lower().split()) for t in inputs["eval_texts"]]
        self.cfg_kw = {"fmt": "parquet", "checksum": True, "dump_threads": nproc}
        self.first_output = None

    def argv(self, out_dir: str) -> list[str]:
        return [
            "prepare", "--source", self.inputs["docs"], "-o", out_dir,
            "--dedup", "minhash", "--line-dedup", "--substring-dedup-tokens", "12",
            "--gopher-gate", "--gopher-stopwords", self.inputs["stopwords"],
            "--repetition-gate",
            "--decontaminate-eval", self.inputs["eval"],
            "--min-shared", str(MIN_SHARED),
            "--chunk-tokens", str(CHUNK_TOKENS), "--chunk-overlap", str(CHUNK_OVERLAP),
            "-t", str(self.nproc),
        ]

    def cycle(self, spark, it_dir: str, table_done=None) -> dict:
        from mydumper_spark import cli

        curated = os.path.join(it_dir, "curated")
        printed = io.StringIO()
        with contextlib.redirect_stdout(printed):
            rc, t = _timed(cli.main, self.argv(os.path.join(curated, "chunks.parquet")))
        out = dump_verify_restore(spark, curated, self.cfg_kw, it_dir, self.nproc,
                                  table_done)
        out["phases"] = {"prepare": t, **out["phases"]}
        out["rc"] = rc
        out["counts"] = json.loads(printed.getvalue().strip().splitlines()[-1])
        out["input_docs"] = self.inputs["rows"]["docs"]
        out["curated"] = os.path.join(curated, "chunks.parquet")
        return out

    def check(self, spark, out: dict, tally: Tally) -> None:
        """Every stage kept documents, the same output on every iteration,
        no two output documents with identical text, no eval document's
        shingles surviving at or above --min-shared in any output document,
        and the curated chunks round-trip through dump, verify and
        restore."""
        import hashlib

        import pyarrow.parquet as pq

        tally.record("prepare exit code", out["rc"] == 0)
        for stage, n in out["counts"].items():
            tally.record(f"prepare stage {stage} kept documents", n > 0)
        chunks = pq.read_table(out["curated"]).sort_by([("doc_id", "ascending"),
                                                       ("chunk_id", "ascending")])
        check_round_trip(out, {"chunks": chunks.num_rows}, tally)
        docs: dict[int, list[str]] = {}
        for d, c in zip(chunks.column("doc_id").to_pylist(),
                        chunks.column("chunk_text").to_pylist()):
            toks = c.split(" ")
            if d in docs:
                docs[d].extend(toks[CHUNK_OVERLAP:])
            else:
                docs[d] = toks
        texts = [" ".join(t) for t in docs.values()]
        digest = hashlib.sha256("\n\x00".join(texts).encode()).hexdigest()
        if self.first_output is None:
            self.first_output = (len(texts), digest)
        tally.record("prepare output non-empty", len(texts) > 0)
        tally.record("prepare output stable", (len(texts), digest) == self.first_output)
        tally.record("prepare no duplicate documents", len(set(texts)) == len(texts))
        contaminated = 0
        for toks in docs.values():
            sh = _shingles(toks)
            contaminated += any(len(sh & e) >= MIN_SHARED for e in self.eval_shingles)
        tally.record("prepare decontaminated", contaminated == 0)


WORKLOADS = {
    "jdbc_sql_native": JdbcSqlNative,
    "corpus_prepare": CorpusPrepare,
}


def clear(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
