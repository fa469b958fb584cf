"""Independent last-writer-wins oracle over the raw change log.

DuckDB replays the generated epoch files on its own: per key the event
with the highest ``(commit, lsn)`` wins and a winning delete removes
the key. Content goes through the same trailing-whitespace
normalization the engine's transform applies before it is hashed, so a
table row and an oracle row agree exactly when the engine is right.
Spark is never involved on this side. ``OracleProcess`` runs it in a
child process of its own, so DuckDB's memory is not counted as the
engine's.
"""

from __future__ import annotations

import math
import numbers
import os
import pickle
import subprocess
import sys

import duckdb
import pandas as pd

KEYS = ["repo", "path"]
COLS = ["repo", "path", "commit", "lsn", "lang", "content_sha256", "lang_variant"]

# normalize_trailing_ws: strip spaces/tabs before every newline and at
# the end of the text (RE2 has no lookahead, so two passes; SQL string
# literals keep backslashes, so the newline is put back as group 1)
_NORMALIZED = (
    r"regexp_replace(regexp_replace(content, '[ \t]+(\n)', '\1', 'g'), '[ \t]+$', '')"
)


class Oracle:
    def __init__(self, events_root: str, threads: int, temp_dir: str) -> None:
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {int(threads)}")
        self.con.execute(f"SET temp_directory = '{temp_dir}'")
        self.con.execute(
            f"""CREATE VIEW ev AS SELECT * FROM read_parquet(
                  '{events_root}/epoch=*/*.parquet',
                  hive_partitioning = true, union_by_name = true)"""
        )
        names = {r[0] for r in self.con.execute("DESCRIBE ev").fetchall()}
        self._variant = "lang_variant" if "lang_variant" in names else "NULL"
        self._states: dict[int, pd.DataFrame] = {}

    def close(self) -> None:
        self.con.close()

    def state(self, max_epoch: int) -> pd.DataFrame:
        """Live rows after epochs ``0..max_epoch``, sorted by key."""
        if max_epoch not in self._states:
            self._states[max_epoch] = self.con.execute(
                f"""
                WITH w AS (
                  SELECT *, row_number() OVER (
                      PARTITION BY repo, path ORDER BY commit DESC, lsn DESC) AS rn
                  FROM ev WHERE epoch <= {int(max_epoch)}
                )
                SELECT repo, path, commit, lsn, lang,
                       sha256({_NORMALIZED}) AS content_sha256,
                       {self._variant} AS lang_variant
                FROM w WHERE rn = 1 AND op <> 'D'
                ORDER BY repo, path
                """
            ).df()
        return self._states[max_epoch]

    def keys(self, max_epoch: int) -> list[tuple]:
        """Live ``(repo, path)`` keys after epochs ``0..max_epoch``."""
        st = self.state(max_epoch)
        return list(zip(st["repo"], st["path"]))

    def changed_keys(self, from_epoch: int, to_epoch: int) -> int:
        """Keys whose live row differs between the two states: the row
        count a change feed between the two snapshots must return."""
        a = self.state(from_epoch)[KEYS + ["lsn"]]
        b = self.state(to_epoch)[KEYS + ["lsn"]]
        j = a.merge(b, on=KEYS, how="outer", suffixes=("_a", "_b"))
        differs = j["lsn_a"].isna() | j["lsn_b"].isna() | (j["lsn_a"] != j["lsn_b"])
        return int(differs.sum())


class OracleProcess:
    """An ``Oracle`` in a child Python process, called over a pipe.

    Same methods as ``Oracle``; states are cached on this side too, so a
    state crosses the pipe once. ``pid`` is the child's."""

    def __init__(self, events_root: str, threads: int, temp_dir: str) -> None:
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        )
        self.pid = self._proc.pid
        self._states: dict[int, pd.DataFrame] = {}
        self._call("open", events_root, threads, temp_dir)

    def _call(self, name: str, *args):
        pickle.dump((name, args), self._proc.stdin)
        self._proc.stdin.flush()
        ok, value = pickle.load(self._proc.stdout)
        if not ok:
            raise RuntimeError(f"oracle {name}{args}: {value}")
        return value

    def state(self, max_epoch: int) -> pd.DataFrame:
        if max_epoch not in self._states:
            self._states[max_epoch] = self._call("state", max_epoch)
        return self._states[max_epoch]

    def keys(self, max_epoch: int) -> list[tuple]:
        return self._call("keys", max_epoch)

    def changed_keys(self, from_epoch: int, to_epoch: int) -> int:
        return self._call("changed_keys", from_epoch, to_epoch)

    def close(self) -> None:
        """Let the child exit when its stdin closes, and wait for it."""
        if self._proc.poll() is None:
            self._proc.stdin.close()
            try:
                self._proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self._proc.kill()
                self._proc.wait()
        self._proc.stdout.close()


def _serve() -> None:
    """Child side of ``OracleProcess``: answer calls from stdin until it
    closes. The pipe gets the process's stdout; anything else printed
    goes to stderr."""
    out = os.fdopen(os.dup(1), "wb")
    os.dup2(2, 1)
    oracle = None
    try:
        while True:
            try:
                name, args = pickle.load(sys.stdin.buffer)
            except EOFError:
                return
            try:
                if name == "open":
                    oracle = Oracle(*args)
                    reply = (True, None)
                else:
                    reply = (True, getattr(oracle, name)(*args))
            except Exception as e:  # reported to the caller
                reply = (False, f"{type(e).__name__}: {e}")
            pickle.dump(reply, out)
            out.flush()
    finally:
        if oracle is not None:
            oracle.close()


def _same(a, b) -> bool:
    na = a is None or (isinstance(a, float) and math.isnan(a)) or a is pd.NA
    nb = b is None or (isinstance(b, float) and math.isnan(b)) or b is pd.NA
    if na or nb:
        return na and nb
    if isinstance(a, numbers.Real) and isinstance(b, numbers.Real):
        return a == b
    return type(a) is type(b) and a == b


def diff_rows(got: list[tuple], want: pd.DataFrame, limit: int = 5) -> list[str]:
    """Compare table rows (tuples in ``COLS`` order) with oracle rows.
    Returns one line per mismatching key, at most ``limit`` of them,
    preceded by a count line; an empty list means equal."""
    want_by_key = {
        tuple(r[:2]): r for r in want[COLS].itertuples(index=False, name=None)
    }
    got_by_key: dict[tuple, tuple] = {}
    bad: list[str] = []
    for r in got:
        k = tuple(r[:2])
        if k in got_by_key:
            bad.append(f"duplicate key {k}")
        got_by_key[k] = r
    for k in sorted(set(got_by_key) | set(want_by_key)):
        g, w = got_by_key.get(k), want_by_key.get(k)
        if g is None:
            bad.append(f"missing {k}")
        elif w is None:
            bad.append(f"unexpected {k}")
        else:
            cols = [c for c, x, y in zip(COLS, g, w) if not _same(x, y)]
            if cols:
                bad.append(f"{k} differs in {cols}")
    if not bad:
        return []
    return [f"{len(bad)} mismatching keys"] + bad[:limit]


if __name__ == "__main__":
    _serve()
