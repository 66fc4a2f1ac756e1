"""Checks one run's shards against the corpus manifest.

The shards are read with independent readers (pyarrow, the duckdb Python
module, tarfile), never with the program under test.  A run passes when the
directory holds exactly the shards 0..n-1, and every row's digest -- path,
shard, duration, sampling rate, resolved metadata, audio byte length and
CRC-32 -- equals the manifest's, in order.  Parquet shards must also carry the
Hugging Face `huggingface` footer key for the manifest's schema.
"""

import json
import os
import tarfile
import zlib

EXT = {"parquet": "parquet", "duckdb": "duckdb", "webdataset": "tar"}

FEATURE = {"Bool": {"dtype": "bool", "_type": "Value"},
           "Float64": {"dtype": "float64", "_type": "Value"},
           "String": {"dtype": "string", "_type": "Value"}}


def feature(t):
    if t.startswith("List("):
        return {"_type": "Sequence", "feature": feature(t[5:-1])}
    return FEATURE[t]


def hf_footer(schema):
    features = {"audio": {"_type": "Audio"}, "duration": {"dtype": "float64", "_type": "Value"}}
    features.update((k, feature(t)) for k, t in schema.items())
    return {"info": {"features": features}}


def digest(path, shard, duration, rate, meta, audio):
    return (path, shard, duration, rate, json.dumps(meta, sort_keys=True), len(audio), zlib.crc32(audio))


def expected(manifest):
    return [(r["path"], r["shard"], r["duration"], r["sampling_rate"],
             json.dumps(r["meta"], sort_keys=True), r["len"], r["crc"]) for r in manifest["rows"]]


def read_parquet(path, shard, keys, errors, footer):
    import pyarrow.parquet as pq
    md = pq.read_metadata(path).metadata or {}
    if json.loads(md.get(b"huggingface", b"null")) != footer:
        errors.append(f"{os.path.basename(path)}: huggingface footer missing or wrong")
    t = pq.read_table(path)
    want = ["audio", "duration"] + keys
    if t.column_names != want:
        errors.append(f"{os.path.basename(path)}: columns {t.column_names} != {want}")
        return []
    rows = []
    for rec in t.to_pylist():
        a = rec["audio"]
        rows.append(digest(a["path"], shard, rec["duration"], a["sampling_rate"],
                           {k: rec[k] for k in keys}, a["bytes"]))
    return rows


def read_duckdb(path, shard, keys, errors):
    import duckdb
    con = duckdb.connect(path, read_only=True)
    try:
        cols = ", ".join(f'"{k}"' for k in keys)
        res = con.execute(f"SELECT id, duration, audio.path, audio.sampling_rate, audio.bytes, {cols} "
                          "FROM files ORDER BY id").fetchall()
    finally:
        con.close()
    if [r[0] for r in res] != list(range(len(res))):
        errors.append(f"{os.path.basename(path)}: ids are not the in-shard index")
    return [digest(r[2], shard, r[1], r[3], dict(zip(keys, r[5:])), bytes(r[4])) for r in res]


def read_tar(path, shard, keys, errors):
    rows = []
    with tarfile.open(path) as tf:
        members = tf.getmembers()
        for i in range(0, len(members), 2):
            wav, meta = members[i], members[i + 1]
            stem = f"{i // 2:06d}"
            if (wav.name, meta.name) != (stem + ".wav", stem + ".json"):
                errors.append(f"{os.path.basename(path)}: members {wav.name}, {meta.name}")
                return rows
            audio = tf.extractfile(wav).read()
            m = json.loads(tf.extractfile(meta).read())
            rows.append(digest(m.pop("path"), shard, m.pop("duration"), m.pop("sampling_rate"),
                               {k: m.get(k) for k in keys}, audio))
    return rows


def verify(manifest, out_dir, fmt):
    """Return (errors, stats) for the shards in out_dir."""
    errors = []
    ext = EXT[fmt]
    n = manifest["shards"]
    names = sorted(os.listdir(out_dir)) if os.path.isdir(out_dir) else []
    want = sorted(f"{i}.{ext}" for i in range(n))
    if names != want:
        errors.append(f"shard files {names[:5]}... != {want[:5]}... ({len(names)} vs {n})")
    keys = list(manifest["schema"])
    footer = hf_footer(manifest["schema"])
    rows, size = [], 0
    for i in range(n):
        path = os.path.join(out_dir, f"{i}.{ext}")
        if not os.path.exists(path):
            continue
        size += os.path.getsize(path)
        try:
            if fmt == "parquet":
                rows += read_parquet(path, i, keys, errors, footer)
            elif fmt == "duckdb":
                rows += read_duckdb(path, i, keys, errors)
            else:
                rows += read_tar(path, i, keys, errors)
        except Exception as e:  # an unreadable shard is a failed run
            errors.append(f"{i}.{ext}: {e!r}")
    exp = expected(manifest)
    if len(rows) != len(exp):
        errors.append(f"row count {len(rows)} != {len(exp)}")
    bad = [(a, b) for a, b in zip(rows, exp) if a != b]
    if bad:
        errors.append(f"{len(bad)} row digests differ, first: got {bad[0][0][:5]} want {bad[0][1][:5]}")
    stats = {"rows": len(rows), "shards": len([x for x in names if x.endswith("." + ext)]),
             "output_bytes": size,
             "zero_rows": sum(1 for r in rows if r[3] == 0),
             "defaulted": sum(1 for r in rows if json.loads(r[4]).get("transcription") == "-")}
    return errors, stats
