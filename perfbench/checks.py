"""Correctness checks, each made apart from the program.

Ingest checks compare the collector's parquet sink with the packet
generator's own record of what it wrote. Analytics checks compare the
program's answers with DuckDB running each query's twin SQL over the same
files. Every check returns a list of failure messages; an empty list is a
pass. `selftest.py` shows that each check fails on a corrupted input.
"""
import collections
import json
import os
import re

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import gen_packets

LOG = re.compile(r"^(\d+)(\.compact)?$")


# ---------------------------------------------------------------- ingest --

class Sink:
    """The rows and files of one collector sink, read without Spark.

    `rows` is an Arrow table (raw as binary, packet_type, lat, lon, bucket)
    where `bucket` is the station_bucket directory each row was found in;
    `files` maps each committed data file to (batch, bucket): the
    micro-batch whose `_spark_metadata/<batchId>` log first lists it, and
    its station_bucket directory. The file sink draws a new UUID for every
    file it writes, so a file's name does not tell its batch; the log does.
    A compact log (`<batchId>.compact`) repeats the entries of the batches
    before it, so a file's batch is the lowest batch id among the logs that
    list it. A file listed only in a compact log (its own batch's log was
    already cleaned up) has an unknown batch (None)."""

    def __init__(self, rows, files):
        self.rows, self.files = rows, files

    @staticmethod
    def read(sink_dir):
        files = {}  # path -> (batch, bucket)
        logs = os.path.join(sink_dir, "_spark_metadata")
        for name in os.listdir(logs) if os.path.isdir(logs) else []:
            m = LOG.match(name)
            if not m:
                continue
            batch = int(m.group(1))
            with open(os.path.join(logs, name), encoding="utf-8") as fh:
                for line in fh:
                    line = line.strip()
                    if not line.startswith("{"):
                        continue
                    e = json.loads(line)
                    if e.get("action", "add") != "add":
                        continue
                    path = re.sub(r"^file:(//)?", "", e["path"])
                    d = os.path.basename(os.path.dirname(path))
                    bucket = d.split("=", 1)[1] if "=" in d else None
                    own = None if m.group(2) else batch
                    old = files.get(path, (None, bucket))[0]
                    files[path] = (own if old is None else
                                   old if own is None else min(old, own), bucket)
        parts = []
        for path, (_, b) in sorted(files.items()):
            t = pq.read_table(path, columns=["raw", "packet_type", "lat", "lon"])
            t = t.set_column(0, "raw", t.column("raw").cast(pa.binary()))
            parts.append(t.append_column("bucket", pa.array([b] * t.num_rows, pa.string())))
        rows = pa.concat_tables(parts) if parts else expected_rows(gen_packets.Replay())
        return Sink(rows.select(["raw", "packet_type", "lat", "lon", "bucket"]), files)

    def bytes(self):
        return sum(os.path.getsize(p) for p in self.files)


def expected_rows(replay):
    """The generator's record as an Arrow table: what a correct collector
    writes for each line (a missing position is null)."""
    return pa.table({
        "raw": pa.array(replay.raw, pa.binary()),
        "packet_type": pa.array(replay.ptype, pa.string()),
        "lat": pa.array(replay.lat, pa.float64(), from_pandas=True),
        "lon": pa.array(replay.lon, pa.float64(), from_pandas=True),
        "bucket": pa.array([replay.bucket(c) for c in replay.callsign], pa.string()),
        "callsign": pa.array(replay.callsign, pa.string())})


def _sql(want, sink, query):
    con = duckdb.connect()
    con.register("want", want)
    con.register("got", sink.rows)
    return con.execute(query).fetchall()


def check_lines(want, sink):
    """Every generated line is in the sink exactly as often as it was
    written (each line is distinct, so: exactly once)."""
    (missing, extra), = _sql(want, sink, """
        WITH w AS (SELECT raw, count(*) n FROM want GROUP BY raw),
             g AS (SELECT raw, count(*) n FROM got GROUP BY raw)
        SELECT coalesce(sum(greatest(coalesce(w.n, 0) - coalesce(g.n, 0), 0)), 0),
               coalesce(sum(greatest(coalesce(g.n, 0) - coalesce(w.n, 0), 0)), 0)
        FROM w FULL OUTER JOIN g ON w.raw = g.raw""")
    if missing or extra:
        return [f"lines: {want.num_rows} written, {sink.rows.num_rows} in the sink, "
                f"{missing} missing, {extra} extra"]
    return []


def check_types(want, sink):
    """Per-packet-type counts equal the generator's."""
    bad = _sql(want, sink, """
        WITH w AS (SELECT packet_type t, count(*) n FROM want GROUP BY 1),
             g AS (SELECT packet_type t, count(*) n FROM got GROUP BY 1)
        SELECT coalesce(w.t, g.t), coalesce(w.n, 0), coalesce(g.n, 0)
        FROM w FULL OUTER JOIN g ON w.t = g.t
        WHERE coalesce(w.n, 0) <> coalesce(g.n, 0) ORDER BY 1""")
    return [f"packet_type counts (type, written, sink): {bad}"] if bad else []


def check_positions(want, sink):
    """Every row's parsed position equals the position the generator
    encoded, to the last unit; reported per station."""
    bad = _sql(want, sink, """
        SELECT coalesce(nullif(w.callsign, ''), '(none)') s, count(*) n
        FROM got g JOIN want w ON g.raw = w.raw
        WHERE g.lat IS DISTINCT FROM w.lat OR g.lon IS DISTINCT FROM w.lon
        GROUP BY 1 ORDER BY 2 DESC, 1""")
    return [f"positions differ for {len(bad)} station(s), e.g. {bad[:3]}"] if bad else []


def check_buckets(want, sink):
    """Every row sits in the station_bucket directory of its callsign."""
    bad = _sql(want, sink, """
        SELECT w.callsign, g.bucket FROM got g JOIN want w ON g.raw = w.raw
        WHERE g.bucket IS DISTINCT FROM w.bucket ORDER BY 1, 2""")
    return [f"{len(bad)} row(s) in a foreign bucket, e.g. {bad[:3]}"] if bad else []


def check_files_per_batch(want, sink):
    """No micro-batch writes more than one file into a bucket directory.
    Files are grouped by (batch, bucket), the batch taken from the sink's
    `_spark_metadata` logs."""
    unknown = sorted(p for p, (batch, _) in sink.files.items() if batch is None)
    per = collections.Counter(sink.files.values())
    bad = [(k, n) for k, n in sorted(per.items(), key=str) if k[0] is not None and n > 1]
    out = [f"{len(bad)} (batch, bucket) pair(s) with several files, e.g. {bad[:2]}"] if bad else []
    if unknown:
        out.append(f"{len(unknown)} file(s) listed only in a compact log, batch unknown, "
                   f"e.g. {unknown[:1]}")
    return out


INGEST_CHECKS = [check_lines, check_types, check_positions, check_buckets,
                 check_files_per_batch]


def check_sink(want, sink):
    return [m for check in INGEST_CHECKS for m in check(want, sink)]


# ------------------------------------------------------------- analytics --

def check_row_counts(spark_rows, twin_rows):
    """Each query's drained row count equals its DuckDB twin's, on every
    pass. `spark_rows` maps a name to its per-pass counts."""
    out = []
    for name, counts in sorted(spark_rows.items()):
        want = twin_rows.get(name)
        if want is None:
            out.append(f"{name}: no DuckDB twin")
        elif any(c != want for c in counts):
            out.append(f"{name}: rows {sorted(set(counts))}, DuckDB twin {want}")
    return out


def normalize(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _cell_equal(a, b):
    import datetime

    import numpy as np
    import pandas as pd
    seq = (list, tuple, np.ndarray)
    if isinstance(a, seq) or isinstance(b, seq):
        return (isinstance(a, seq) and isinstance(b, seq) and len(a) == len(b)
                and all(_cell_equal(x, y) for x, y in zip(a, b)))
    na, nb = pd.isna(a), pd.isna(b)
    if na or nb:
        return bool(na and nb)
    if isinstance(a, (datetime.date, datetime.datetime)) and \
            isinstance(b, (datetime.date, datetime.datetime)):
        return pd.Timestamp(a) == pd.Timestamp(b)
    if isinstance(a, float) or isinstance(b, float):
        return float(a) == float(b)
    return bool(a == b)


def check_values(name, want, got):
    """The program's answer equals the DuckDB twin's cell for cell, after
    sorting columns by name and rows by value (as tools/check_oracle.py
    compares)."""
    want, got = normalize(want), normalize(got)
    if list(want.columns) != list(got.columns):
        return [f"{name}: columns {list(got.columns)}, DuckDB twin {list(want.columns)}"]
    if len(want) != len(got):
        return [f"{name}: {len(got)} rows, DuckDB twin {len(want)}"]
    for c in want.columns:
        for i, (a, b) in enumerate(zip(want[c].tolist(), got[c].tolist())):
            if not _cell_equal(a, b):
                return [f"{name}: column {c} row {i}: {b!r}, DuckDB twin {a!r}"]
    return []
