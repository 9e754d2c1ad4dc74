"""Seeded input generators for the benchmark.

Every generator is a pure function of its arguments: the same seed writes
byte-identical files. The program under test only ever sees the files.

- `rides`: monthly gzip `;`-CSV ride files in the shape Citi Bike
  publishes, resampled from the ride sample recovered from the reference
  dump, with new ride ids and start times re-spread over one year.
- `cdc`: a base snapshot and a CDC log of inserts, upserts and deletes
  that favour recent keys, cut into micro-batches.
- `scaled_fixture`: the query fixture replicated with shifted keys.
"""

import csv
import gzip
import io
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

YEAR_START_MS = 1735689600000  # 2025-01-01T00:00:00Z
YEAR_MS = 365 * 86400 * 1000

# Order-insensitive digest of rows made of LONG columns, the same function
# as `Digest.ofRow` in harness/Digest.scala, on numpy uint64 (which wraps).


def _fmix(k):
    k = k ^ (k >> np.uint64(33))
    k = k * np.uint64(0xFF51AFD7ED558CCD)
    k = k ^ (k >> np.uint64(33))
    k = k * np.uint64(0xC4CEB9FE1A85EC53)
    return k ^ (k >> np.uint64(33))


def row_hashes(*columns):
    """Hash of each row of equal-length int64 columns, as uint64."""
    with np.errstate(over="ignore"):
        h = np.full(len(columns[0]), 0xCBF29CE484222325, dtype=np.uint64)
        for c in columns:
            f = _fmix(np.asarray(c, dtype=np.int64).view(np.uint64) ^ np.uint64(0x27D4EB2F165667C5))
            h = (h ^ f) * np.uint64(0x100000001B3)
        return _fmix(h)


def _sum64(hashes):
    return int(np.sum(hashes, dtype=np.uint64)) if len(hashes) else 0


def digest_hex(d):
    return "%016x" % (d & 0xFFFFFFFFFFFFFFFF)


def _write_gzip(path, text):
    data = text.encode("utf-8")
    with open(path, "wb") as raw, gzip.GzipFile(filename="", mode="wb", fileobj=raw, compresslevel=6, mtime=0) as gz:
        gz.write(data)
    return len(data)


def _read_sample(sample_path):
    with gzip.open(sample_path, "rt", encoding="utf-8", newline="") as f:
        rows = list(csv.reader(f, delimiter=";"))
    return rows[0], rows[1:]


def _fmt_ts(ms):
    """Timestamps with variable-width fractional seconds, like the sample."""
    s = np.datetime_as_string(ms.astype("datetime64[ms]"), unit="ms")
    return [t.replace("T", " ").rstrip("0").rstrip(".") for t in s.tolist()]


def rides(sample_path, seed, n, out_dir):
    """Writes `n` rides as twelve monthly gzip CSV files into `out_dir`.

    Returns the expected warehouse cardinalities, the summed trip duration
    and the uncompressed CSV size. Start times are distinct, so every ride
    is one fact row.
    """
    header, body = _read_sample(sample_path)
    rng = np.random.default_rng(seed)
    start_sample = np.array([r[2] for r in body], dtype="datetime64[ms]").astype(np.int64)
    end_sample = np.array([r[3] for r in body], dtype="datetime64[ms]").astype(np.int64)
    pick = rng.integers(0, len(body), n)
    start = np.sort(rng.integers(YEAR_START_MS, YEAR_START_MS + YEAR_MS - n, n))
    start = start + np.arange(n)  # strictly increasing: distinct start times
    end = start + (end_sample - start_sample)[pick]
    ids = rng.integers(0, 2**63 - 1, n, dtype=np.int64)
    started, ended = _fmt_ts(start), _fmt_ts(end)
    months = start.astype("datetime64[ms]").astype("datetime64[M]").astype(np.int64) % 12

    os.makedirs(out_dir, exist_ok=True)
    csv_bytes = 0
    for m in range(12):
        buf = io.StringIO()
        w = csv.writer(buf, delimiter=";", lineterminator="\n")
        w.writerow(header)
        for i in np.flatnonzero(months == m).tolist():
            r = body[pick[i]]
            w.writerow(["%016X" % ids[i], r[1], started[i], ended[i]] + r[4:])
        csv_bytes += _write_gzip(os.path.join(out_dir, "rides_2025%02d.csv.gz" % (m + 1)), buf.getvalue())

    def num(x):
        return float(x) if x != "" else None

    def txt(x):
        return x if x != "" else None

    used = [body[i] for i in np.unique(pick).tolist()]
    stations = {(txt(r[4]), num(r[8]), num(r[9])) for r in used} | \
               {(txt(r[6]), num(r[10]), num(r[11])) for r in used}
    dur_s = np.trunc((end - start).astype(np.float64) * 1000.0 / 1e6).astype(np.int64)
    return {
        "rides": n,
        "member_dim": len({txt(r[12]) for r in used}),
        "rideable_dim": len({txt(r[1]) for r in used}),
        "station_dim": len(stations),
        "date_dim": len(np.union1d(start, end)),
        "fact": n,
        "trip_duration_sum": int(dur_s.sum()),
        "csv_bytes": csv_bytes,
    }


def cdc(seed, keys, batches, ops_per_batch, read_every, replay_after, out_dir):
    """Writes `base.parquet` (k, v, w) and `log.parquet` (batch, k, v, w,
    op, ord) into `out_dir`.

    Returns the expected snapshot (rows, digest) after every batch that is
    a multiple of `read_every`, and the id of the batch replayed after
    batch `replay_after`: the batch before it. The first op of batch
    `replay_after` upserts the replayed batch's last key with other values,
    so a replay that is wrongly applied changes the snapshot.
    """
    if not 2 <= replay_after <= batches:
        raise ValueError("replay_after must be in [2, %d], got %d" % (batches, replay_after))
    replay_id = replay_after - 1
    rng = np.random.default_rng(seed)
    k0 = np.arange(keys, dtype=np.int64)
    v0 = rng.integers(0, 1_000_000, keys, dtype=np.int64)
    w0 = rng.integers(0, 1_000, keys, dtype=np.int64)
    state = dict(zip(k0.tolist(), zip(v0.tolist(), w0.tolist())))
    digest = _sum64(row_hashes(k0, v0, w0))

    def h(k, v, w):
        return int(row_hashes([k], [v], [w])[0])

    n = batches * ops_per_batch
    kind = rng.random(n)
    back = rng.exponential(keys / 50.0, n).astype(np.int64)
    vs = rng.integers(0, 1_000_000, n, dtype=np.int64).tolist()
    ws = rng.integers(0, 1_000, n, dtype=np.int64).tolist()
    next_key = keys
    log = {"batch": [], "k": [], "v": [], "w": [], "op": [], "ord": []}
    reads = {}
    for i in range(n):
        b = i // ops_per_batch + 1
        if i == replay_id * ops_per_batch:
            op, k = "U", log["k"][-1]
            if log["op"][-1] != "D" and (vs[i], ws[i]) == (log["v"][-1], log["w"][-1]):
                vs[i] += 1
        elif kind[i] < 0.25:
            op, k = "I", next_key
            next_key += 1
        else:
            op, k = ("U" if kind[i] < 0.85 else "D"), max(0, next_key - 1 - int(back[i]))
        old = state.pop(k, None)
        if old is not None:
            digest -= h(k, *old)
        if op != "D":
            state[k] = (vs[i], ws[i])
            digest += h(k, vs[i], ws[i])
        for col, x in zip(("batch", "k", "v", "w", "op", "ord"), (b, k, vs[i], ws[i], op, i + 1)):
            log[col].append(x)
        if (i + 1) % ops_per_batch == 0 and b % read_every == 0:
            reads[str(b)] = {"rows": len(state), "digest": digest_hex(digest)}

    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table({"k": k0, "v": v0, "w": w0}), os.path.join(out_dir, "base.parquet"))
    pq.write_table(pa.table({
        "batch": pa.array(log["batch"], pa.int32()),
        "k": pa.array(log["k"], pa.int64()),
        "v": pa.array(log["v"], pa.int64()),
        "w": pa.array(log["w"], pa.int64()),
        "op": pa.array(log["op"], pa.string()),
        "ord": pa.array(log["ord"], pa.int64()),
    }), os.path.join(out_dir, "log.parquet"))
    return {"reads": reads, "replay_id": replay_id}


# key columns of the query fixture, by key domain
FIXTURE_KEYS = {
    "customer": {"c_custkey": "cust"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "order", "l_partkey": "part", "l_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "supplier": {"s_suppkey": "supp"},
    "events": {"event_id": "event", "user_id": "user"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
}


def scaled_fixture(src_dir, factor, out_dir):
    """Replicates every keyed fixture table `factor` times, shifting each
    key domain by its size per replica, so joins stay within a replica.
    Unkeyed tables (region, nation) are copied.
    """
    tables = {f[:-len(".parquet")]: pq.read_table(os.path.join(src_dir, f))
              for f in sorted(os.listdir(src_dir)) if f.endswith(".parquet")}
    stride = {}
    for t, cols in FIXTURE_KEYS.items():
        for c, dom in cols.items():
            stride[dom] = max(stride.get(dom, 0), int(pc.max(tables[t][c]).as_py()) + 1)
    os.makedirs(out_dir, exist_ok=True)
    for t, tb in tables.items():
        out = os.path.join(out_dir, t + ".parquet")
        if t not in FIXTURE_KEYS:
            shutil.copyfile(os.path.join(src_dir, t + ".parquet"), out)
            continue
        parts = []
        for r in range(factor):
            part = tb
            for c, dom in FIXTURE_KEYS[t].items():
                i = part.schema.get_field_index(c)
                part = part.set_column(i, c, pc.add(part[c], pa.scalar(r * stride[dom], part[c].type)))
            parts.append(part)
        pq.write_table(pa.concat_tables(parts), out)

