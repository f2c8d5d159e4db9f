"""Seeded inputs and their reference answers.

The transcript rows follow the package's generator
(``pandera_spark.fixtures.transcripts_pandas``): the same Zipf
conversation lengths, role cycle, tool names and timestamps, with the
token-soup text drawn by numpy and joined by pyarrow instead of a Python
loop per row, so a run spends its set-up on the program rather than on
the generator. Conversations are cut at ``MAX_TURNS`` turns and the table
at an exact row count, so every seed gives the same amount of work:
uncut, a few 4096-turn conversations hold most of the rows past turn 200
of a 10^5-row table, and their number varies by about a third between
seeds. The rows are written as parquet files that never split a
conversation. References are computed by a path that does not go
through the package's validation code: DuckDB over the same parquet
files, pyarrow, or numpy.
"""

from __future__ import annotations

import glob
import os
import zlib

import numpy as np

N_FILES = 8
MAX_TURNS = 256
MEAN_TURNS = 11  # mean conversation length after the cut, measured


def transcripts_table(n_rows: int, seed: int):
    """Exactly ``n_rows`` turns as a pyarrow table, with the row offsets
    that split it into ``N_FILES`` files of whole conversations. Cuts fall
    at turn boundaries, so turn indexes stay contiguous from 0."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from pandera_spark.fixtures import _ROLES, _TOOLS, _WORDS, EPOCH, _conv_sizes

    rng = np.random.default_rng(seed)
    sizes = np.zeros(0, np.int64)
    while sizes.sum() < n_rows:
        more = np.minimum(_conv_sizes(max(n_rows // MEAN_TURNS, 16), rng), MAX_TURNS)
        sizes = np.concatenate([sizes, more])
    conv = np.repeat(np.arange(len(sizes)), sizes)[:n_rows]
    starts = np.concatenate([[0], np.cumsum(sizes)[:-1]])
    turn = (np.arange(n_rows) - starts[conv]).astype(np.int32)
    role_idx = np.where(turn == 0, 0, (turn - 1) % 3 + 1)
    role = np.array(_ROLES, dtype=object)[role_idx]
    tool = np.where(role_idx == 3, np.array(_TOOLS, dtype=object)[(conv + turn) % 3], None)
    # text: 3 to 42 words per turn, word ids from a hash of (conv, turn, seed)
    h = (conv.astype(np.uint64) * np.uint64(2654435761)
         + turn.astype(np.uint64) * np.uint64(40503) + np.uint64(seed))
    n_words = (h % np.uint64(40)).astype(np.int64) + 3
    offsets = np.concatenate([[0], np.cumsum(n_words)])
    j = np.arange(offsets[-1]) - np.repeat(offsets[:-1], n_words)
    hw = np.repeat(h, n_words)
    words = ((hw >> (j % 48).astype(np.uint64)) ^ (hw * (j + 1).astype(np.uint64))) % np.uint64(
        len(_WORDS))
    text = pc.binary_join(pa.ListArray.from_arrays(
        pa.array(offsets, pa.int32()), pa.array(np.array(_WORDS, dtype=object)[words])), " ")
    ts = (np.datetime64(EPOCH, "us") + (conv * 7 + turn).astype("timedelta64[m]")).astype(
        "datetime64[us]")
    table = pa.table({
        "conv_id": pa.array(np.char.add("conv-", np.char.zfill(conv.astype(str), 8))),
        "turn_idx": pa.array(turn),
        "role": pa.array(role, pa.string()),
        "text": text,
        "tool": pa.array(tool, pa.string()),
        # UTC-adjusted micros: Spark reads it as TIMESTAMP, not TIMESTAMP_NTZ
        "ts": pa.array(ts).cast(pa.timestamp("us", tz="UTC")),
    })
    # cut at the first turn 0 after each even split point
    first = np.flatnonzero(turn == 0)
    cuts = [0]
    for k in range(1, N_FILES):
        i = np.searchsorted(first, k * n_rows // N_FILES)
        cuts.append(int(first[min(i, len(first) - 1)]))
    cuts.append(n_rows)
    return table, cuts


def write_transcripts(path: str, table, cuts: list[int]) -> None:
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    for k, (a, b) in enumerate(zip(cuts, cuts[1:])):
        if b > a:
            pq.write_table(table.slice(a, b - a), os.path.join(path, f"part-{k:03d}.parquet"))


def parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def _duck(files: list[str]):
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet({files!r})")
    return con


def ref_ks(path: str) -> dict:
    """Exact two-sample KS statistic of text length between the two
    crc32(conv_id) parity groups. Lengths are integers spanning far fewer
    than 8192 values, so the binned statistic must equal it."""
    con = _duck(parquet_files(path))
    conv, length = con.execute("SELECT conv_id, length(text) FROM t").fetchnumpy().values()
    con.close()
    parity = {c: zlib.crc32(c.encode()) % 2 == 0 for c in set(conv.tolist())}
    grp = np.fromiter((parity[c] for c in conv.tolist()), bool, len(conv))
    a, b = np.sort(length[grp]), np.sort(length[~grp])
    grid = np.union1d(a, b)
    d = np.max(np.abs(
        np.searchsorted(a, grid, "right") / len(a)
        - np.searchsorted(b, grid, "right") / len(b)
    ))
    return {"n_rows": len(conv), "ks": float(d), "n1": len(a), "n2": len(b)}


# the dirty schema: "tool" rows fail role, turns from DIRTY_TURN_LT on fail
# turn_idx (both unlimited), and text keeps DIRTY_TEXT_LIMIT failure rows
DIRTY_ROLES = ("system", "user", "assistant")
DIRTY_TEXT = (1, 120)
DIRTY_TEXT_LIMIT = 10
DIRTY_TURN_LT = 8


def ref_violations(path: str) -> dict:
    """Per failing column: (rows, Σ len(failure_case), Σ len(index)) for
    the dirty schema. ``text`` keeps only its first rows by index."""
    con = _duck(parquet_files(path))
    idx = "conv_id || '|' || CAST(turn_idx AS VARCHAR)"
    q = {
        "role": f"SELECT role AS fc, {idx} AS ix FROM t WHERE role NOT IN {DIRTY_ROLES}",
        "turn_idx": f"SELECT CAST(turn_idx AS VARCHAR) AS fc, {idx} AS ix FROM t "
                    f"WHERE NOT (turn_idx < {DIRTY_TURN_LT})",
        "text": f"SELECT text AS fc, {idx} AS ix FROM t WHERE NOT (length(text) "
                f"BETWEEN {DIRTY_TEXT[0]} AND {DIRTY_TEXT[1]}) "
                f"ORDER BY ix LIMIT {DIRTY_TEXT_LIMIT}",
    }
    out = {}
    for col, sql in q.items():
        n, fc, ix = con.execute(
            f"SELECT count(*), sum(length(fc)), sum(length(ix)) FROM ({sql})"
        ).fetchone()
        out[col] = (int(n), int(fc or 0), int(ix or 0))
    con.close()
    return out


GRAMMAR_FIRST = {"system", "user"}
GRAMMAR_NEXT = {
    "system": {"user"},
    "user": {"assistant"},
    "assistant": {"user", "tool"},
    "tool": {"tool", "assistant"},
}


def ref_grammar_rows(files: list[str]) -> int:
    """Rows the dialog-grammar monitor must emit: every illegal opening
    role and every illegal role transition, per conversation in turn
    order (no turn arrives out of order: files hold whole conversations)."""
    con = _duck(files)
    conv, turn, role = con.execute(
        "SELECT conv_id, turn_idx, role FROM t ORDER BY conv_id, turn_idx"
    ).fetchnumpy().values()
    con.close()
    conv, role = conv.tolist(), role.tolist()
    bad = 0
    for i, r in enumerate(role):
        if i == 0 or conv[i] != conv[i - 1]:
            bad += r not in GRAMMAR_FIRST
        else:
            bad += r not in GRAMMAR_NEXT[role[i - 1]]
    return bad


def write_iceberg(spark, files: list[str], table_dir: str, buckets: int, turn_lt: int) -> dict:
    """The rows of ``files`` as an Iceberg v2 table partitioned by
    ``bucket(buckets, conv_id)``, then about 1% of rows removed by a
    position-delete and an equality-delete snapshot. Returns the row
    count, the live row count and the live rows with ``turn_idx >=
    turn_lt``, computed with pyarrow from the deleted positions and keys."""
    import pyarrow.parquet as pq

    from pandera_spark.io import (
        read_table_meta,
        write_equality_deletes,
        write_iceberg_sink,
        write_position_deletes,
    )

    df = spark.read.parquet(*files)
    write_iceberg_sink(df, table_dir, partition_by=f"bucket({buckets}, conv_id)")
    data_files = sorted(d["file_path"] for d in read_table_meta(table_dir).data_files)
    keys = {}  # data file -> its (conv_id, turn_idx) keys in row order
    for p in data_files:
        t = pq.read_table(_local(p), columns=["conv_id", "turn_idx"])
        keys[p] = list(zip(t.column(0).to_pylist(), t.column(1).to_pylist()))
    # position deletes: the last tenth of the turns of one conversation
    # in ten, so turn indexes stay contiguous and the table stays valid
    pos = {}
    for p in data_files:
        last = {}
        for c, t in keys[p]:
            last[c] = max(last.get(c, 0), t)
        pos[p] = [i for i, (c, t) in enumerate(keys[p])
                  if zlib.crc32(c.encode()) % 10 == 1 and t >= 0.9 * last[c] and t > 0]
    write_position_deletes(table_dir, pos)
    # equality deletes: every conversation whose id hashes to 0 mod 200
    convs = sorted({c for v in keys.values() for c, _ in v})
    gone = {c for c in convs if zlib.crc32(c.encode()) % 200 == 0}
    write_equality_deletes(table_dir, [{"conv_id": c} for c in sorted(gone)], ["conv_id"])
    deleted = {keys[p][i] for p, ix in pos.items() for i in ix}
    live = [k for v in keys.values() for k in v if k not in deleted and k[0] not in gone]
    return {
        "n_rows": sum(len(v) for v in keys.values()),
        "live_rows": len(live),
        "live_turn_fail": sum(t >= turn_lt for _, t in live),
    }


def _local(p: str) -> str:
    return p[len("file:"):] if p.startswith("file:") else p


def dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(f) for f in glob.glob(os.path.join(path, "**"), recursive=True)
        if os.path.isfile(f)
    ) / (1024 * 1024)
