"""Output checks, run once per benchmark run outside the timed passes.

- Registered queries: the Spark result (dumped as parquet) against the
  query's DuckDB oracle over the same tables. Both sides are put in a
  canonical form (columns by name, rows sorted) and compared value by value
  and by dtype kind, as the engine's own oracle gate does.
- `file_prep`: the files the last timed pass wrote against an independent
  model of the six pipelines, built from the inputs alone (image headers
  parsed here, tile grid from the reference arithmetic, line-level models
  of merge, split and dedup).

Each check returns {job name: error string} for the jobs that failed.
"""
import math
import os
import struct

import duckdb
import pandas as pd

def canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(spark_df, duck_df):
    """None when the frames hold the same rows, else the first difference."""
    a, b = canon(spark_df), canon(duck_df)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    for c in a.columns:
        ak, bk = a[c].dtype.kind, b[c].dtype.kind
        if ak != bk and not (a[c].isna().all() and b[c].isna().all()):
            return f"dtype of {c}: {a[c].dtype} vs {b[c].dtype}"
    for c in a.columns:
        av, bv = a[c], b[c]
        same = (av.astype(object) == bv.astype(object)) | (av.isna() & bv.isna())
        if not same.all():
            i = int((~same).values.argmax())
            return f"value of {c} at row {i}: {av[i]!r} vs {bv[i]!r}"
    return None


def check_queries(tables_dir, check_dir, names, oracles, dump_errors):
    con = duckdb.connect()
    for f in sorted(os.listdir(tables_dir)):
        con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(tables_dir, f)}')")
    bad = dict(dump_errors)
    for name in names:
        if name in bad:
            continue
        path = os.path.join(check_dir, name)
        try:
            got = pd.read_parquet(path)
        except Exception as e:  # missing or unreadable output
            bad[name] = f"no output: {e}"
            continue
        if name not in oracles:
            if len(got) == 0:
                bad[name] = "empty output and no oracle"
            continue
        try:
            want = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            bad[name] = f"oracle error: {e}"
            continue
        err = compare(got, want)
        if err:
            bad[name] = err
    return bad


# ------------------------------------------------------------ file_prep model

def image_dims(data):
    """(width, height) from a PNG, JPEG, WebP or HEIC header, else None."""
    try:
        if data[:8] == b"\x89PNG\r\n\x1a\n" and data[12:16] == b"IHDR":
            return struct.unpack(">II", data[16:24])
        if data[:2] == b"\xff\xd8":
            i = 2
            while i + 9 < len(data):
                if data[i] != 0xFF:
                    return None
                marker = data[i + 1]
                seg = struct.unpack(">H", data[i + 2:i + 4])[0]
                if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                    h, w = struct.unpack(">HH", data[i + 5:i + 9])
                    return w, h
                i += 2 + seg
            return None
        if data[:4] == b"RIFF" and data[8:12] == b"WEBP" and data[12:16] == b"VP8X":
            w = int.from_bytes(data[24:27], "little") + 1
            h = int.from_bytes(data[27:30], "little") + 1
            return w, h
        if data[4:8] == b"ftyp":
            k = data.find(b"ispe")
            if k > 0:
                return struct.unpack(">II", data[k + 8:k + 16])
    except (struct.error, IndexError):
        return None
    return None


def _stem(name):
    return name.rsplit(".", 1)[0]


def _listing(d):
    if not os.path.isdir(d):
        return {}
    out = {}
    for n in os.listdir(d):
        if n.startswith(".") or n.startswith("_"):
            continue
        with open(os.path.join(d, n), "rb") as fh:
            out[n] = fh.read()
    return out


def _lines(path):
    with open(path, encoding="utf-8") as fh:
        body = fh.read()
    return body[:-1].split("\n") if body.endswith("\n") else body.split("\n")


def model_file_prep(in_dir, p):
    """Expected outputs per pipeline: {job: {file name: bytes or checker}}.

    `p` holds the pipeline parameters: tile, overlap, caption,
    lines_per_file. A checker is a function of the written bytes that
    returns an error string or None."""
    tile, step = p["tile"], p["tile"] - int(p["overlap"] * p["tile"])
    images = {}
    for n in sorted(os.listdir(os.path.join(in_dir, "images"))):
        with open(os.path.join(in_dir, "images", n), "rb") as fh:
            images[n] = fh.read()

    def dims_are(w, h):
        return lambda b: None if image_dims(b) == (w, h) else f"dims {image_dims(b)} != {(w, h)}"

    exp = {j: {} for j in ("prepare", "tile", "convert", "merge", "split", "dedup")}
    for n, data in images.items():
        d = image_dims(data)
        if d is None:
            continue  # undecodable header: dropped by every pipeline
        w, h = d
        decodable = not n.startswith("bad_")
        stem = _stem(n)
        if decodable:
            exp["convert"][stem + ".jpg"] = dims_are(w, h)
            for j in range(h // step):
                for i in range(w // step):
                    l, u = i * step, j * step
                    r, lo = min(l + tile, w), min(u + tile, h)
                    exp["tile"][f"{stem}_tile_{i}_{j}.png"] = dims_are(r - l, lo - u)
                    if p["caption"].strip():
                        exp["tile"][f"{stem}_tile_{i}_{j}.txt"] = p["caption"].encode()
        incompatible = (w < tile or h < tile or (w - tile) % step != 0
                        or (h - tile) % step != 0)
        if not incompatible:
            exp["prepare"][n] = data
            continue

        def rec(a, b):
            return a if a < tile or b < tile else min((a - tile) // step * step + tile, a)
        rw, rh = rec(w, h), rec(h, w)
        exp["prepare"][stem + ".txt"] = (
            f"Recommended crop size: {rw} x {rh}\nCrop from the center to keep the "
            f"subject.\nThen re-run the compatibility filter.").encode()
        if decodable:
            exp["prepare"][stem + "_cropped.png"] = dims_are(rw, rh)

    texts = os.path.join(in_dir, "texts")
    parts = []
    for n in sorted(os.listdir(texts)):
        if n.lower().endswith(".txt"):
            with open(os.path.join(texts, n), encoding="utf-8") as fh:
                parts.append(fh.read())
    exp["merge"]["merged_output.txt"] = "\n\n".join(parts).encode()

    lines = _lines(os.path.join(in_dir, "lines.txt"))
    seen, kept = set(), []
    for line in lines:
        if line not in seen:
            seen.add(line)
            kept.append(line)
    exp["dedup"]["lines_purged.txt"] = ("\n".join(kept) + "\n").encode()

    per = max(1, math.ceil(p["lines_per_file"] / 2))
    n_files = len(lines) // per + 1 if len(lines) % per == 0 else math.ceil(len(lines) / per)
    for k in range(n_files):
        chunk = lines[k * per:(k + 1) * per]
        exp["split"][f"split_{k + 1}.txt"] = "".join(x + "\n\n" for x in chunk).encode()
    return exp


def check_file_prep(in_dir, out_dir, params, counts):
    """Compare the written pipeline outputs with the model. `counts` holds
    what the engine reported: tiles written, images scanned and converted."""
    exp = model_file_prep(in_dir, params)
    bad = {}
    for job, files in exp.items():
        got = _listing(os.path.join(out_dir, job))
        if set(got) != set(files):
            missing = sorted(set(files) - set(got))[:3]
            extra = sorted(set(got) - set(files))[:3]
            bad[job] = f"file set differs: missing {missing} extra {extra}"
            continue
        for n, want in files.items():
            err = want(got[n]) if callable(want) else (None if got[n] == want else "bytes differ")
            if err:
                bad[job] = f"{n}: {err}"
                break
    tiles = sum(1 for n in exp["tile"] if n.endswith(".png"))
    if "tile" not in bad and counts["tiles_written"] != tiles:
        bad["tile"] = f"writeTiles returned {counts['tiles_written']}, model {tiles}"
    planted = sum(1 for n in os.listdir(os.path.join(in_dir, "images")) if n.startswith("bad_"))
    quarantined = counts["scanned_images"] - counts["converted"]
    if "convert" not in bad and quarantined != planted:
        bad["convert"] = f"quarantined {quarantined}, planted {planted}"
    return bad
