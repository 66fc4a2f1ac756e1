"""Seeded audio-tree generator with a truth manifest.

A corpus is a function of (workload shape, seed): the same pair always yields
the same tree, the same sidecar and the same manifest.  The manifest is the
ground truth the verifier checks every run's shards against: for each file the
pipeline should keep, its relative path, expected (duration, sampling_rate),
resolved metadata (after the J1 priority levels, J2 first-wins and the type
vote), audio byte length and CRC-32, and the shard it must land in.

The expected metadata is computed by a small model of the sidecar semantics
written here from the reference's rules, not by the program under test.
"""

import hashlib
import json
import os
import random
import shutil
import struct
import zlib

RATE = 16000

# Shapes are the sizes each workload runs at.  They are scaled down from the
# probe sizes in the README so that one benchmark run (several fresh JVMs plus
# the warm loop) fits its time budget; the ratios between the workloads are
# kept: the long-clip tree holds about the same audio bytes as the many-clip
# tree in 1/33 of the files.
SHAPES = {
    "many_clips_jsonl_parquet": dict(
        files=600, dirs=45, clip_s=(0.5, 2.5), channels=1, sidecar="jsonl",
        format="parquet", files_per_db=75, max_depth=50, check_mime=False),
    "long_clips_csv_duckdb": dict(
        files=18, dirs=4, clip_s=(20.0, 40.0), channels=2, sidecar="csv",
        format="duckdb", files_per_db=2, max_depth=50, check_mime=False),
    "filtered_tree_webdataset": dict(
        files=600, dirs=45, clip_s=(0.5, 2.5), channels=1, sidecar=None,
        format="webdataset", files_per_db=75, max_depth=6, check_mime=True,
        decoy_share=0.10, deep_files=20, linked_dir=True),
}

TRUNCATED_SHARE = 0.02  # files whose WAV header is cut short -> (0.0, 0)


def wav_header(frames, channels, rate=RATE):
    block = 2 * channels
    data = frames * block
    return (b"RIFF" + struct.pack("<I", 36 + data) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, channels, rate, rate * block, block, 16)
            + b"data" + struct.pack("<I", data))


def truncated_wav(rng, channels):
    """A WAV whose header is cut short: the program must yield (0.0, 0)."""
    full = wav_header(RATE, channels)
    if rng.random() < 0.5:
        return full[:rng.randint(12, 43)]  # shorter than a header
    # fmt chunk present, then a chunk that runs past the end: no data chunk
    return full[:36] + b"LIST" + struct.pack("<I", 4096) + rng.randbytes(64)


def sniff_is_audio(b):
    """The reference MIME allow-list on magic bytes (F5)."""
    if len(b) < 4:
        return False
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        return True
    if b[:4] in (b"fLaC", b"OggS") or b[:3] == b"ID3":
        return True
    if b[:4] == b"FORM" and b[8:12] in (b"AIFF", b"AIFC"):
        return True
    return b[0] == 0xFF and (b[1] & 0xE0) == 0xE0


def parse_wav(b):
    """Expected (duration, sampling_rate) of a header-only PCM parse."""
    if len(b) < 44 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return 0.0, 0
    pos, rate, block, data, have_fmt = 12, 0, 0, -1, False
    while pos + 8 <= len(b) and (data < 0 or not have_fmt):
        cid = b[pos:pos + 4]
        size = struct.unpack_from("<I", b, pos + 4)[0]
        if cid == b"fmt " and pos + 24 <= len(b):
            rate = struct.unpack_from("<i", b, pos + 12)[0]
            block = struct.unpack_from("<H", b, pos + 20)[0]
            have_fmt = True
        elif cid == b"data":
            data = min(size, max(0, len(b) - (pos + 8)))
        pos += 8 + size + (size & 1)
    if not have_fmt or data < 0 or rate <= 0 or block <= 0:
        return 0.0, 0
    return (data // block) / rate, rate


def _dirs(rng, n, tag):
    """n directory paths forming a tree of depth 1..4."""
    out = []
    for i in range(n):
        parents = [d for d in out if d.count("/") < 3]
        name = f"{tag}{i:03d}"
        if parents and rng.random() < 0.75:
            out.append(rng.choice(parents) + "/" + name)
        else:
            out.append(name)
    return out


def _durations(rng, n, lo, hi):
    # A fixed stratified set, shuffled per seed: every seed has the same
    # total audio bytes, so seeds differ in arrangement, not in volume.
    ds = [lo + (hi - lo) * (i + 0.5) / n for i in range(n)]
    rng.shuffle(ds)
    return ds


def _render(v):
    """Text the program stores for a JSON value under a String column."""
    if v is None:
        return None
    if isinstance(v, str):
        return v
    return json.dumps(v, separators=(",", ":"))


def _coerce(v, t):
    if v is None:
        return None
    if t == "String":
        return _render(v)
    if t == "Bool":
        return v if isinstance(v, bool) else None
    if t == "Float64":
        return float(v) if isinstance(v, (int, float)) and not isinstance(v, bool) else None
    inner = t[5:-1]  # List(X)
    if not isinstance(v, list):
        return None
    return [_coerce(e, inner) for e in v]


def _vote(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return "Bool"
    if isinstance(v, (int, float)):
        return "Float64"
    if isinstance(v, str):
        return "String"
    if isinstance(v, list):
        t = None
        for e in v:
            et = _vote(e)
            if et is not None:
                t = et if t is None else _merge(t, et)
        return f"List({t or 'String'})"
    return "String"


def _merge(a, b):
    if a.startswith("List(") and b.startswith("List("):
        return f"List({_merge(a[5:-1], b[5:-1])})"
    return a if a == b else "String"


RESERVED = {"duration", "audio", "id"}


def _meta_value(rng, i):
    """Metadata of one sidecar line; mixed types force widening."""
    m = {"transcription": f"utt {i} " + rng.choice(["yes", "no", "hello world", "ok"]),
         "speaker": f"spk{rng.randint(0, 40):02d}",
         "score": rng.randint(0, 64) / 8,
         "age": rng.randint(18, 90),
         "verified": rng.random() < 0.5,
         "tags": rng.sample(["a", "b", "c", "d", "e"], rng.randint(0, 3))}
    r = rng.random()
    if r < 0.05:
        m["score"] = None
    elif r < 0.10:
        del m["transcription"]
    elif r < 0.13:
        m["transcription"] = rng.randint(0, 9)  # non-string under String
    if rng.random() < 0.1:
        m["lang"] = rng.choice(["en", "fr", "de"])
    if rng.random() < 0.05:
        m["id"] = i  # reserved, never a column
    return m


def _jsonl_sidecar(rng, rels):
    """Lines of a JSONL sidecar over the kept files, keyed across all three
    J1 levels, with duplicates, keyless lines, overlaps and junk."""
    lines = []
    for n, rel in enumerate(rels):
        name = rel.rsplit("/", 1)[-1]
        r = rng.random()
        meta = _meta_value(rng, n)
        if r < 0.40:
            key = {"relative_path": rng.choice([rel, "./" + rel]) if rng.random() < 0.1 else rel}
        elif r < 0.65:
            key = {"file_name": name}
        elif r < 0.80:
            key = {"file_name": rel}  # level 3: the relative path used as a name
        else:
            continue  # no sidecar line: defaulted
        lines.append({**key, **meta})
        if rng.random() < 0.05:  # duplicate key: first in file order wins
            lines.append({**key, **_meta_value(rng, n + 100000)})
        if "relative_path" in key and rng.random() < 0.05:  # level 1 beats level 2
            lines.append({"file_name": name, **_meta_value(rng, n + 200000)})
    for k in range(max(3, len(rels) // 100)):  # keys matching no file
        lines.append({"relative_path": f"missing/{k}.wav", **_meta_value(rng, k)})
    rng.shuffle(lines)
    # keyless lines still vote types: this one widens `verified` to String
    lines.insert(rng.randint(0, len(lines)), {"verified": 1, "extra": {"k": 1}})
    lines.insert(rng.randint(0, len(lines)), {"age": "unknown", "tags": [1]})
    text = [json.dumps(line, separators=(", ", ": ")) for line in lines]
    for junk in ("", "[1, 2]", "{not json", '"bare string"'):
        text.insert(rng.randint(0, len(text)), junk)
    return lines, "\n".join(text) + "\n"


def _resolve_jsonl(lines, rels):
    types = {}
    for line in lines:
        for k, v in line.items():
            t = _vote(v)
            if t is not None:
                types[k] = t if k not in types else _merge(types[k], t)
    schema = {k: t for k, t in types.items()
              if k not in RESERVED and k not in ("file_name", "relative_path")}
    schema["transcription"] = "String"
    by_rel, by_name = {}, {}
    for line in lines:
        rel = line.get("relative_path")
        if rel is not None:
            while rel.startswith("./"):
                rel = rel[2:]
            by_rel.setdefault(rel, line)
        if line.get("file_name") is not None:
            by_name.setdefault(line["file_name"], line)
    out = {}
    for rel in rels:
        name = rel.rsplit("/", 1)[-1]
        for level, hit in ((1, by_rel.get(rel)), (2, by_name.get(name)), (3, by_name.get(rel))):
            if hit is not None:
                break
        else:
            level, hit = 0, None
        meta = {}
        for k, t in schema.items():
            v = None if hit is None else _coerce(hit.get(k), t)
            if k == "transcription" and v is None:
                v = "-"
            meta[k] = v
        out[rel] = (level, meta)
    return schema, out


def _csv_sidecar(rng, rels):
    """A CSV sidecar keyed by relative_path; every column is a String."""
    cols = ["relative_path", "quality", "speaker", "transcription"]
    rows = [{"relative_path": rel, "speaker": f"spk{rng.randint(0, 9)}",
             "quality": str(rng.randint(0, 8) / 8), "transcription": f"long take {n}"}
            for n, rel in enumerate(rels) if rng.random() >= 0.15]
    rng.shuffle(rows)
    text = "".join(",".join(r[c] for c in cols) + "\n" for r in rows)
    schema = {"quality": "String", "speaker": "String", "transcription": "String"}
    by_rel = {r["relative_path"]: r for r in rows}
    resolved = {}
    for rel in rels:
        hit = by_rel.get(rel)
        meta = {k: hit[k] for k in schema} if hit else {"quality": None, "speaker": None, "transcription": "-"}
        resolved[rel] = (1 if hit else 0, meta)
    return schema, resolved, ",".join(cols) + "\n" + text


def _write(path, data):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)


def generate(root, workload, seed):
    """Write the corpus for (workload, seed) under root; return its manifest.
    Paths in the manifest are relative to root."""
    shape = SHAPES[workload]
    rng = random.Random(f"{workload}:{seed}")
    tree = os.path.join(root, "tree")
    tag = "".join(rng.choice("abcdefghjkmnpqrstuvwxyz") for _ in range(3))
    dirs = _dirs(rng, shape["dirs"], tag)
    lo, hi = shape["clip_s"]
    kept = []  # (rel, bytes)
    for i, dur in enumerate(_durations(rng, shape["files"], lo, hi)):
        rel = f"{rng.choice(dirs)}/clip{i:05d}_{rng.randint(0, 9999):04d}.wav"
        if rng.random() < TRUNCATED_SHARE:
            data = truncated_wav(rng, shape["channels"])
        else:
            frames = round(dur * RATE)
            data = wav_header(frames, shape["channels"]) + rng.randbytes(frames * 2 * shape["channels"])
        _write(os.path.join(tree, rel), data)
        kept.append((rel, data))
    dropped = {"decoy": 0, "deep": 0, "symlinked": 0}
    if shape.get("decoy_share"):
        for i in range(int(shape["files"] * shape["decoy_share"])):
            # first byte outside every magic prefix: the F5 sniff must drop it
            data = bytes([rng.choice(b"abcdeghjkmnpqstuvwxyz")]) + rng.randbytes(rng.randint(2000, 40000))
            assert not sniff_is_audio(data)
            _write(os.path.join(tree, rng.choice(dirs), f"decoy{i:04d}.wav"), data)
            dropped["decoy"] += 1
    if shape.get("deep_files"):
        deep = "/".join(f"deep{k}" for k in range(shape["max_depth"]))
        for i in range(shape["deep_files"]):
            frames = rng.randint(8000, 40000)
            _write(os.path.join(tree, deep, f"deepclip{i:03d}.wav"),
                   wav_header(frames, 1) + rng.randbytes(frames * 2))
            dropped["deep"] += 1
    if shape.get("linked_dir"):
        # a directory symlink below the root: F2 drops every file reached through it
        under = {d: sum(r.startswith(d + "/") for r, _ in kept) for d in dirs}
        target = min(dirs, key=lambda d: (abs(under[d] - len(kept) // 20), d))
        os.symlink(os.path.relpath(os.path.join(tree, target), tree), os.path.join(tree, "linked"))
        dropped["symlinked"] = sum(r.startswith(target + "/") for r, _ in kept)
    assert all(r.count("/") + 1 <= shape["max_depth"] for r, _ in kept)

    rels = sorted(r for r, _ in kept)  # X1: shard order is relative-path order
    sidecar = None
    if shape["sidecar"] == "jsonl":
        lines, text = _jsonl_sidecar(rng, rels)
        schema, resolved = _resolve_jsonl(lines, rels)
    elif shape["sidecar"] == "csv":
        schema, resolved, text = _csv_sidecar(rng, rels)
    else:
        schema = {"transcription": "String"}
        resolved = {r: (0, {"transcription": "-"}) for r in rels}
    if shape["sidecar"]:
        # inside the tree, as users keep it: F4 must drop it from the listing
        sidecar = "tree/metadata." + shape["sidecar"]
        with open(os.path.join(root, sidecar), "w") as f:
            f.write(text)

    data_of = dict(kept)
    rows = []
    for rank, rel in enumerate(rels):
        data = data_of[rel]
        dur, rate = parse_wav(data)
        level, meta = resolved[rel]
        rows.append({"path": rel, "shard": rank // shape["files_per_db"], "duration": dur,
                     "sampling_rate": rate, "level": level, "meta": meta,
                     "len": len(data), "crc": zlib.crc32(data)})
    manifest = {
        "workload": workload, "seed": seed, "shape": shape, "schema": dict(sorted(schema.items())),
        "tree": "tree", "sidecar": sidecar, "rows": rows,
        "input_bytes": sum(r["len"] for r in rows), "dropped": dropped,
        "shards": (len(rows) + shape["files_per_db"] - 1) // shape["files_per_db"],
    }
    with open(os.path.join(root, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


def generator_version():
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def load_or_generate(cache_dir, workload, seed, keep=4):
    """The manifest of the corpus for (workload, seed), with absolute paths.
    Each corpus is generated once and cached; the cache holds at most
    `keep` corpora, oldest evicted first."""
    root = os.path.join(cache_dir, f"{workload}-{seed}-{generator_version()}")
    mpath = os.path.join(root, "manifest.json")
    if os.path.exists(mpath):
        os.utime(root)
    else:
        os.makedirs(cache_dir, exist_ok=True)
        others = sorted((os.path.getmtime(os.path.join(cache_dir, d)), d) for d in os.listdir(cache_dir))
        for _, d in others[:max(0, len(others) - keep + 1)]:
            shutil.rmtree(os.path.join(cache_dir, d), ignore_errors=True)
        tmp = root + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        generate(tmp, workload, seed)
        os.rename(tmp, root)
        os.sync()  # flush the new tree now, not during a timed run
    with open(mpath) as f:
        manifest = json.load(f)
    manifest["tree"] = os.path.join(root, manifest["tree"])
    if manifest["sidecar"]:
        manifest["sidecar"] = os.path.join(root, manifest["sidecar"])
    return manifest
