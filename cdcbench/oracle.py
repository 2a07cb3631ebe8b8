"""Correctness checks built apart from the engine.

Nothing here imports ``transcript_cdc``. The reference final state is an
LWW replay of the feed parquet computed by DuckDB, with the text run
through this file's own normalizer. The lake is read back from its
manifest JSON and data files directly, so a bug shared by the engine's
writer and reader cannot hide.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import unicodedata

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "model", "tokens"]
# Canonical comparison row: integers widened, timestamps as microseconds.
_CANON = (
    "conv_id, CAST(turn_idx AS BIGINT) AS turn_idx, role, text, tool, "
    "CAST(ts AS BIGINT) AS ts, model, CAST(tokens AS BIGINT) AS tokens"
)
_LWW = (
    "row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) = 1"
)


def normalize(s: str | None) -> str | None:
    """NFC, drop zero-width spaces, collapse whitespace runs, strip."""
    if s is None:
        return None
    return " ".join(unicodedata.normalize("NFC", s).replace("​", "").split())


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _canonical(table: pa.Table) -> pa.Table:
    """Project to COLUMNS (missing evolved columns become nulls) with
    timestamps cast to int64 microseconds, whatever unit or zone."""
    cols = {}
    for name in COLUMNS:
        if name not in table.column_names:
            cols[name] = pa.nulls(table.num_rows)
            continue
        col = table[name]
        if pa.types.is_timestamp(col.type):
            col = pc.cast(pc.cast(col, pa.timestamp("us", col.type.tz)), pa.int64())
        cols[name] = col
    return pa.table(cols)


class Oracle:
    """The replayed final state of one feed, held in DuckDB."""

    def __init__(self, feed_dir: str):
        self.con = _connect()
        files = sorted(glob.glob(os.path.join(feed_dir, "*.parquet")))
        self.con.execute(
            "CREATE TABLE feed AS SELECT lsn, op, conv_id, turn_idx FROM "
            "read_parquet(?, union_by_name=true)",
            [files],
        )
        state = self.con.execute(
            "SELECT * EXCLUDE (lsn, op) FROM read_parquet(?, union_by_name=true) "
            f"QUALIFY {_LWW} AND op <> 'D'",
            [files],
        ).arrow()
        text = pa.array([normalize(t) for t in state["text"].to_pylist()], pa.string())
        state = state.set_column(state.column_names.index("text"), "text", text)
        self.expected = _canonical(state)
        self.con.register("expected_arrow", self.expected)
        self.con.execute(f"CREATE TABLE expected AS SELECT {_CANON} FROM expected_arrow")
        self.con.unregister("expected_arrow")
        self.rows = self.expected.num_rows
        self.max_lsn = self.con.execute("SELECT max(lsn) FROM feed").fetchone()[0]

        self._point_classes = [
            [r[0] for r in self.con.execute(q).fetchall()]
            for q in (
                "SELECT conv_id FROM feed GROUP BY ALL ORDER BY count(*) DESC, "
                "conv_id LIMIT 20",
                "SELECT conv_id FROM feed WHERE conv_id IN (SELECT conv_id FROM "
                "expected) GROUP BY ALL ORDER BY count(*), conv_id LIMIT 20",
                f"SELECT DISTINCT conv_id FROM feed QUALIFY {_LWW} AND op = 'D' "
                "ORDER BY conv_id",
            )
        ]

    def point_read_ids(self, rng) -> list[str]:
        """One id from each class: hot (most events), cold (fewest events,
        still live), deleted (some turn's last event is a delete) and never
        inserted. A never-inserted id sorts inside the live key range, so
        file pruning by min/max key cannot skip its read."""
        hot, cold, deleted = self._point_classes
        return [rng.choice(hot), rng.choice(cold), rng.choice(deleted),
                rng.choice(cold) + "-absent"]

    def mismatches(self, got: pa.Table, conv_id: str | None = None) -> int:
        """Rows in ``got`` or the expected state (of one conversation when
        ``conv_id`` is given) that the other lacks, counted with
        multiplicity; 0 means equal."""
        self.con.register("got_arrow", _canonical(got))
        where = "" if conv_id is None else "WHERE conv_id = $c"
        params = {} if conv_id is None else {"c": conv_id}
        try:
            return sum(
                self.con.execute(q, params).fetchone()[0]
                for q in (
                    f"SELECT count(*) FROM (SELECT {_CANON} FROM got_arrow "
                    f"EXCEPT ALL SELECT * FROM expected {where})",
                    f"SELECT count(*) FROM (SELECT * FROM expected {where} "
                    f"EXCEPT ALL SELECT {_CANON} FROM got_arrow)",
                )
            )
        finally:
            self.con.unregister("got_arrow")

    def lake_mismatches(self, root: str, mor: bool) -> int:
        """Read the live files named by the manifests with DuckDB (LWW fold
        on merge-on-read) and compare them with the expected state."""
        files = [os.path.join(root, f) for f in live_files(read_manifests(root))]
        if not files:
            return self.rows
        src = "read_parquet(?, union_by_name=true, hive_partitioning=false)"
        sql = (
            f"SELECT * FROM {src} QUALIFY {_LWW} AND op <> 'D'" if mor else
            f"SELECT * FROM {src}"
        )
        return self.mismatches(self.con.execute(sql, [files]).arrow())


# ---------- the ledger: manifests read as plain JSON ----------


def read_manifests(root: str) -> list[dict]:
    out = []
    for path in sorted(glob.glob(os.path.join(root, "_commits", "epoch=*.json"))):
        with open(path) as f:
            out.append(json.load(f))
    return out


def live_files(manifests: list[dict]) -> list[str]:
    """Fold manifests oldest to newest: a ``replace_all`` manifest resets
    the table, an ``append`` one extends its buckets, any other replaces
    the buckets it lists."""
    buckets: dict[str, list[str]] = {}
    for m in manifests:
        if m.get("replace_all"):
            buckets = {}
        for b, files in m["buckets"].items():
            buckets[b] = (buckets.get(b, []) if m.get("append") else []) + files
    return [f for files in buckets.values() for f in files]


def ledger_faults(root: str, max_lsn: int, expired: bool) -> list[str]:
    """Ledger properties; an empty list means all hold.

    - epoch ids are 0..n-1 with no gap;
    - the non-empty LSN windows tile (-1, max_lsn] exactly once, and an
      empty window (a compaction) sits at the current high-water mark;
    - before expire(), every file any manifest references exists;
    - after expire(), every live file exists and no other parquet file
      is left under data/.
    """
    faults = []
    ms = read_manifests(root)
    epochs = [m["epoch"] for m in ms]
    if epochs != list(range(len(ms))):
        faults.append(f"epochs not contiguous: {epochs}")
    hi = -1
    for m in ms:
        lo, top = m["lsn_lo"], m["lsn_hi"]
        if lo != hi or top < lo:
            faults.append(f"epoch {m['epoch']} window ({lo}, {top}] after {hi}")
        hi = max(hi, top)
    if hi != max_lsn:
        faults.append(f"windows end at {hi}, feed at {max_lsn}")
    live = set(live_files(ms))
    named = live if expired else {f for m in ms for fl in m["buckets"].values() for f in fl}
    missing = [f for f in named if not os.path.exists(os.path.join(root, f))]
    if missing:
        faults.append(f"{len(missing)} referenced files missing, e.g. {missing[0]}")
    if expired:
        on_disk = {
            os.path.relpath(p, root)
            for p in glob.glob(os.path.join(root, "data", "**", "*.parquet"), recursive=True)
        }
        orphans = on_disk - live
        if orphans:
            faults.append(f"{len(orphans)} unreferenced files, e.g. {min(orphans)}")
    return faults


def bytes_of(root: str, rel_files) -> int:
    return sum(os.path.getsize(os.path.join(root, f)) for f in rel_files)


def parquet_bytes(root: str) -> int:
    return sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(root, "data", "**", "*.parquet"), recursive=True)
    )


# ---------- negative self-test ----------


def self_test(oracle: Oracle, root: str, scratch: str, mor: bool) -> list[str]:
    """Corrupt a copy of an expired, checked table twice and require the
    checks to catch each corruption. Returns what went undetected.

    1. One row's text is flipped in the live file holding the newest
       live event, so the row is a winner under LWW.
    2. That file is dropped from the manifest that added it, which loses
       the row and leaves an unreferenced file behind.
    """
    copy = os.path.join(scratch, "selftest")
    shutil.rmtree(copy, ignore_errors=True)
    shutil.copytree(root, copy)
    try:
        ms = read_manifests(copy)
        target, row = _newest_live_row(copy, live_files(ms), mor)
        path = os.path.join(copy, target)
        shutil.copyfile(path, path + ".orig")
        t = pq.read_table(path)
        texts = t["text"].to_pylist()
        texts[row] = (texts[row] or "") + " flipped"
        pq.write_table(
            t.set_column(t.column_names.index("text"), "text", pa.array(texts, pa.string())),
            path,
        )
        undetected = []
        if oracle.lake_mismatches(copy, mor) == 0:
            undetected.append("flipped text")
        os.replace(path + ".orig", path)

        for m in reversed(ms):
            for files in m["buckets"].values():
                if target in files:
                    files.remove(target)
                    break
            else:
                continue
            with open(os.path.join(copy, "_commits", f"epoch={m['epoch']:010d}.json"), "w") as f:
                json.dump(m, f)
            break
        if not ledger_faults(copy, oracle.max_lsn, expired=True):
            undetected.append("dropped file (ledger)")
        if oracle.lake_mismatches(copy, mor) == 0:
            undetected.append("dropped file (rows)")
        return undetected
    finally:
        shutil.rmtree(copy, ignore_errors=True)


def _newest_live_row(root: str, files: list[str], mor: bool) -> tuple[str, int]:
    best = (-1, files[0], 0)
    for f in files:
        t = pq.read_table(os.path.join(root, f))
        if t.num_rows == 0:
            continue
        if not mor:
            return f, 0
        live = pc.not_equal(t["op"], "D")
        lsn = pc.if_else(live, t["lsn"], -1)
        i = pc.index(lsn, pc.max(lsn)).as_py()
        if lsn[i].as_py() > best[0]:
            best = (lsn[i].as_py(), f, i)
    return best[1], best[2]
