#!/usr/bin/env python3
"""Self-tests of the benchmark's correctness checks: each check passes on a
faithful input and reports a failure on a corrupted one.

Usage: python3 perfbench/selftest.py      (exit 0 when every case holds)

The faithful ingest sink is written from the generator's own record (what a
correct collector must write) the way the file sink writes it: one parquet
file per bucket per micro-batch, each named with its own random UUID, and
each batch's files listed in its `_spark_metadata/<batchId>` log. It is
written under perfbench/_work/selftest/ and read back with `checks.Sink.read`,
so the checks are tested without Spark. The analytics cases use DuckDB on a
small table.
"""
import json
import os
import shutil
import sys
import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, "_work", "selftest")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen_packets  # noqa: E402

UNIT = 1 / 6000.0  # one hundredth of a minute of arc, the position unit


def _write_file(sink_dir, bucket, rows):
    """One data file in the file sink's naming: a fresh UUID per file."""
    d = os.path.join(sink_dir, f"station_bucket={bucket}")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"part-00000-{uuid.uuid4()}.c000.snappy.parquet")
    pq.write_table(rows.drop(["bucket", "callsign"]), path)
    return path


def _write_log(sink_dir, batch, paths):
    """The batch's `_spark_metadata` log, in the file sink's format."""
    d = os.path.join(sink_dir, "_spark_metadata")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, str(batch)), "w") as fh:
        fh.write("v1\n")
        for p in paths:
            fh.write(json.dumps({"path": "file://" + p, "size": os.path.getsize(p),
                                 "isDir": False, "modificationTime": 0,
                                 "blockReplication": 1, "blockSize": 33554432,
                                 "action": "add"}) + "\n")


def faithful_sink(want, sink_dir, batches=3, split=False):
    """Write a sink as a correct collector writes it: every line once, in
    its bucket, one file per bucket per micro-batch, each batch's files
    listed in its `_spark_metadata` log. With `split`, one bucket's file of
    the first batch is written as two files instead (same rows). Returns
    the sink as `checks.Sink.read` reads it back."""
    shutil.rmtree(sink_dir, ignore_errors=True)
    n, split_done = want.num_rows, not split
    for b in range(batches):
        part = want.slice(b * n // batches, (b + 1) * n // batches - b * n // batches)
        paths = []
        for k in sorted(set(part.column("bucket").to_pylist())):
            rows = part.filter(pc.equal(part.column("bucket"), k))
            if not split_done and rows.num_rows >= 2:
                h = rows.num_rows // 2
                paths += [_write_file(sink_dir, k, rows.slice(0, h)),
                          _write_file(sink_dir, k, rows.slice(h))]
                split_done = True
            else:
                paths.append(_write_file(sink_dir, k, rows))
        _write_log(sink_dir, b, paths)
    return checks.Sink.read(sink_dir)


def _rows(corrupt):
    """Apply `corrupt` to the sink's rows as a pandas frame."""
    def apply(sink):
        df = sink.rows.to_pandas()
        df = corrupt(df)
        sink.rows = pa.Table.from_pandas(df, schema=sink.rows.schema, preserve_index=False)
    return apply


def ingest_cases(want):
    calls = want.column("callsign").to_pylist()
    types = want.column("packet_type").to_pylist()
    station = next(c for c, t in zip(calls, types) if t == "position")

    def units(df):
        own = df["raw"].isin([r for r, c in zip(want.column("raw").to_pylist(), calls)
                              if c == station]) & df["lat"].notna()
        df.loc[own, "lat"] += UNIT
        return df

    def move(df):
        i = df.index[df["bucket"] != "K"][0]
        df.loc[i, "bucket"] = "K"
        return df

    def retype(df):
        i = df.index[df["packet_type"] == "weather"][0]
        df.loc[i, "packet_type"] = "other"
        return df

    return [("a sink row dropped", _rows(lambda df: df.drop(index=5)), checks.check_lines),
            ("a sink row duplicated", _rows(lambda df: pd.concat([df, df.iloc[[7]]])),
             checks.check_lines),
            ("a row moved to another station_bucket", _rows(move), checks.check_buckets),
            ("a station's position units off by one", _rows(units), checks.check_positions),
            ("a row's packet type changed", _rows(retype), checks.check_types),
            ("two files in one bucket in one batch", "split", checks.check_files_per_batch)]


def analytics_cases():
    import duckdb
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT range AS k, range * 0.5 AS v, "
                "'s' || range::VARCHAR AS name FROM range(50)")
    sql = "SELECT k % 5 AS g, count(*) AS n, sum(v) AS s FROM t GROUP BY 1"
    want = con.execute(sql).fetchdf()
    cases = []
    good = want.sample(frac=1.0, random_state=1)  # same answer, other row order
    assert not checks.check_values("q", want, good), "faithful answer must pass"
    assert not checks.check_row_counts({"q": [len(want)] * 3}, {"q": len(want)})
    changed = good.copy()
    changed.iloc[2, 2] = changed.iloc[2, 2] + 0.5
    cases.append(("one value changed against its DuckDB twin",
                  checks.check_values("q", want, changed)))
    cases.append(("a query's row count off by one",
                  checks.check_row_counts({"q": [len(want), len(want) + 1]},
                                          {"q": len(want)})))
    return cases


def main():
    want = checks.expected_rows(gen_packets.generate(7, 20_000))
    base = faithful_sink(want, os.path.join(WORK, "faithful"))
    bad = checks.check_sink(want, base)
    ok = not bad
    print(f"{'ok  ' if ok else 'FAIL'} faithful sink passes every ingest check {bad or ''}")
    for name, corrupt, check in ingest_cases(want):
        if corrupt == "split":
            s = faithful_sink(want, os.path.join(WORK, "split"), split=True)
        else:
            s = checks.Sink(base.rows, dict(base.files))
            corrupt(s)
        msgs = check(want, s)
        ok &= bool(msgs)
        print(f"{'ok  ' if msgs else 'FAIL'} {name} -> {msgs[:1] or 'NOT DETECTED'}")
    for name, msgs in analytics_cases():
        ok &= bool(msgs)
        print(f"{'ok  ' if msgs else 'FAIL'} {name} -> {msgs[:1] or 'NOT DETECTED'}")
    shutil.rmtree(WORK, ignore_errors=True)
    print("all self-tests hold" if ok else "SELF-TEST FAILED")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
