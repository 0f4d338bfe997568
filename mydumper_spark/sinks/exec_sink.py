"""Exec sink (SURVEY §2.2 K9) + filename masquerade (T13).

- K9: ``--exec <cmd> FILENAME`` — run an external command for every finished
  output file on a small worker pool
  (/root/reference/src/mydumper/mydumper_exec_command.c:1-156).
- T13: ``--masquerade-filename`` — hash table names in output paths
  (/root/reference/src/mydumper/mydumper.c:183, 201-202) so dumps don't leak
  schema names; the manifest records the mapping (the reference keeps it in
  filename_re hashes).

Driver-side by design: these operate on *finished files*, after Spark's
committers have renamed them into place — running them inside tasks would
act on uncommitted temporary files.
"""

from __future__ import annotations

import hashlib
import os
import shlex
import subprocess
from concurrent.futures import ThreadPoolExecutor


def exec_per_file(root: str, command: str, max_workers: int = 4,
                  pattern: str = "part-") -> list[tuple[str, int]]:
    """Run ``command`` once per data file under root — or once on root
    itself when it is a file (a fmt="sql" chunk). ``FILENAME`` in the
    command is substituted (reference semantics: appended if absent).
    Returns [(path, returncode)]."""
    # Strictly data files only: the reference runs --exec on completed data
    # files, never on metadata/manifest siblings (mydumper_exec_command.c).
    files = [root] if os.path.isfile(root) else sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(root)
        for f in fs
        if f.startswith(pattern)
    )

    def run(path: str) -> tuple[str, int]:
        if "FILENAME" in command:
            argv = [path if a == "FILENAME" else a for a in shlex.split(command)]
        else:
            argv = shlex.split(command) + [path]
        proc = subprocess.run(argv, capture_output=True)
        return path, proc.returncode

    with ThreadPoolExecutor(max_workers=max_workers) as ex:
        return list(ex.map(run, files))


def exec_filter_file(path: str, command: str, extension: str,
                     remove: bool = True) -> str:
    """--exec-per-thread (reference mydumper.c:270-298): pipe one finished
    output file through an arbitrary filter process — stdin is the file,
    stdout becomes ``path + extension`` — and drop the original. The
    reference's ``-c gzip/zstd`` is internally this same mechanism with
    ``gzip -c`` (set_pipe_backup); the general form covers codecs/filters
    the engine has no native writer for (lz4, openssl enc, …).

    Driver-side on finished files (same rationale as exec_per_file: the
    committer must have renamed them into place first); the reference
    instead wires the pipe into each writer thread — at Spark scale the
    equivalent inline path is the writer's own codec option, which -c
    already uses, so the general filter runs post-commit."""
    argv = shlex.split(command)
    out_path = path + extension
    with open(path, "rb") as fin, open(out_path, "wb") as fout:
        proc = subprocess.run(argv, stdin=fin, stdout=fout,
                              stderr=subprocess.PIPE)
    if proc.returncode != 0:
        if os.path.exists(out_path):
            os.remove(out_path)  # never leave a half-written artifact
        raise RuntimeError(
            f"exec-per-thread: {argv[0]} failed (rc={proc.returncode}) on "
            f"{path}: {proc.stderr[-500:].decode(errors='replace')}")
    if remove:
        os.remove(path)
    return out_path


def exec_filter_files(paths: list[str], command: str, extension: str,
                      max_workers: int = 4) -> list[str]:
    """Run exec_filter_file over many chunk files on a worker pool — the
    reference runs the filter per writer THREAD (set_pipe_backup), so a
    multi-chunk table filters concurrently there too. Result order matches
    ``paths`` (chunk0 first: its filtered name is the manifest path)."""
    if not paths:
        return []
    workers = min(max_workers, len(paths))
    with ThreadPoolExecutor(max_workers=workers) as ex:
        return list(ex.map(
            lambda p: exec_filter_file(p, command, extension), paths))


def exec_decode_file(path: str, command: str, strip_extension: str,
                     out_dir: str) -> str:
    """Restore-side inverse (myloader --exec-per-thread): pipe a filtered
    dump file back through the user's decode command into ``out_dir``,
    named without ``strip_extension`` — the dump dir itself is never
    written to by a restore."""
    base = os.path.basename(path)
    if base.endswith(strip_extension):
        base = base[: -len(strip_extension)]
    out_path = os.path.join(out_dir, base)
    argv = shlex.split(command)
    with open(path, "rb") as fin, open(out_path, "wb") as fout:
        proc = subprocess.run(argv, stdin=fin, stdout=fout,
                              stderr=subprocess.PIPE)
    if proc.returncode != 0:
        if os.path.exists(out_path):
            os.remove(out_path)
        raise RuntimeError(
            f"exec-per-thread decode: {argv[0]} failed "
            f"(rc={proc.returncode}) on {path}: "
            f"{proc.stderr[-500:].decode(errors='replace')}")
    return out_path


def exec_decode_files(paths: list[str], command: str, strip_extension: str,
                      out_dir: str, max_workers: int = 4) -> list[str]:
    """Pooled ``exec_decode_file`` over a table's chunk files — the exact
    restore-side inverse of ``exec_filter_files`` (myloader decodes per
    worker thread too): a 50-chunk filtered table must not decode one
    chunk at a time on the driver before the load starts. Result order
    matches ``paths`` (chunk0 first: its decoded name is the manifest
    path the typed read anchors on)."""
    if not paths:
        return []
    workers = min(max_workers, len(paths))
    with ThreadPoolExecutor(max_workers=workers) as ex:
        return list(ex.map(
            lambda p: exec_decode_file(p, command, strip_extension,
                                       out_dir), paths))


def masquerade_table_name(table: str, salt: str = "") -> str:
    """T13: stable hashed output name for a table."""
    return "t_" + hashlib.sha256((salt + table).encode()).hexdigest()[:16]


_SAFE_FILENAME_RE = __import__("re").compile(r"^[A-Za-z0-9_ @-]+$")


class FilenameRegistry:
    """Filename-safe table-name mapping — ``determine_filename`` /
    ``get_ref_table`` semantics (mydumper_common.c:66-90, proven by
    test/specific_16's `t%`/`t*`/`mydumper.aipk_uuid` tables): a name that is
    unsafe as a filename (dots, slashes, glob chars, …) or collides with the
    generated prefix is replaced by ``mydumper_<N>``, memoized so every
    reference to the same table maps to the same file. The mapping is
    recorded in the manifest (the reference keeps it in its ref_table hash +
    metadata)."""

    def __init__(self) -> None:
        self._map: dict[str, str] = {}
        self._seg: dict[str, str] = {}
        self._n = 0

    def filename_for(self, table: str) -> str:
        if table in self._map:
            return self._map[table]
        name = self._safe(table)
        self._map[table] = name
        return name

    def filename_for_qualified(self, database: str, table: str) -> str:
        """determine_filename for a db-qualified table: each segment
        sanitized INDEPENDENTLY and joined with "." — the reference's
        db.table file naming (a dot inside db or table is unsafe; the
        separator dot is structural, myloader splits on it to route
        db.table.NNNNN.sql files). Memoized per segment so the same
        table name stays stable across schemas."""
        d = self._seg.get(database)
        if d is None:
            d = self._seg[database] = self._safe(database)
        t = self._seg.get(table)
        if t is None:
            t = self._seg[table] = self._safe(table)
        return f"{d}.{t}"

    def _safe(self, s: str) -> str:
        if _SAFE_FILENAME_RE.match(s) and not s.startswith("mydumper_"):
            return s
        name = f"mydumper_{self._n}"
        self._n += 1
        return name

    @property
    def mapping(self) -> dict[str, str]:
        return dict(self._map)
