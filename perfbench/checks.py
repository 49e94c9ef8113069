"""Output checks. They run after the JVM exits, outside the timed region.
Each returns (bad, notes): `bad` holds (pass, op name) pairs, or bare pass
numbers for a pass whose every op fails, and `notes` says why."""
import hashlib
import io
import json
import os
import zipfile

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# The fixed report end date of the registered line-list queries and their
# DuckDB twins; the as-of twins run at the configured window's end instead.
ORACLE_END = "2024-01-21"


def _norm(df):
    """Columns sorted by name, rows sorted, as tools/check.py compares."""
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _typed_like(csv_df, oracle_df):
    """Parse CSV text columns into the oracle's column types."""
    out = pd.DataFrame(index=csv_df.index)
    for c in oracle_df.columns:
        s = csv_df[c]
        kind = oracle_df[c].dtype.kind
        if kind in "iuf":
            out[c] = pd.to_numeric(s)
        else:
            out[c] = s.where(s.notna(), None)
    return out


def export_packages(rt, data_dir, work_dir):
    """Every package: the checksum file equals the SHA-256 of the inner
    zip; all configured CSVs are present and carry the constant columns;
    every CSV's rows equal the DuckDB twin of its report, run at the window
    end for reports with an as-of twin and at the fixed window otherwise."""
    bad, notes, sizes = set(), [], {}
    win = rt["window"][0]
    cfg = json.load(open(os.path.join(data_dir, "export_config.json")))
    oracles = json.load(open(os.path.join(work_dir, "oracle_sql.json")))
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    expected = {}
    for tag, q in cfg["queries"].items():
        sql = oracles[q]
        if q in win["as_of"]:
            sql = sql.replace(ORACLE_END, win["end"])
        expected[tag] = sql
    oracle_cache, verified = {}, {}
    scratch = os.path.join(work_dir, "csv-check")
    os.makedirs(scratch, exist_ok=True)
    for op in rt["op"]:
        if not op["ok"]:
            continue
        key = (op["pass"], op["name"])
        try:
            sizes[op["pass"]] = _check_package(
                op["out"], cfg, expected, con, oracle_cache, verified, scratch)
        except Exception as e:  # noqa: BLE001 - any failure fails the op
            bad.add(key)
            notes.append(f"package pass {op['pass']}: {type(e).__name__}: {e}"[:600])
    return bad, notes, sizes


def _check_package(out, cfg, expected, con, oracle_cache, verified, scratch):
    pkg = out["package"]
    with zipfile.ZipFile(pkg) as z:
        names = z.namelist()
        inner_name = [n for n in names if n.endswith(".zip")]
        sum_name = [n for n in names if n.endswith("_checksum.txt")]
        assert len(inner_name) == 1 and len(sum_name) == 1, f"package holds {names}"
        inner = z.read(inner_name[0])
        checksum = z.read(sum_name[0]).decode().strip()
    digest = hashlib.sha256(inner).hexdigest()
    assert digest == checksum == out["checksum"], "checksum does not match inner zip"
    csv_bytes = 0
    with zipfile.ZipFile(io.BytesIO(inner)) as z:
        csvs = {n: z.read(n) for n in z.namelist()}
    for tag in cfg["queries"]:
        name = f"{tag}_{_suffix(out)}.csv"
        assert name in csvs, f"{name} missing from the package"
        raw = csvs[name]
        csv_bytes += len(raw)
        h = hashlib.sha256(raw).hexdigest()
        if verified.get(tag) == h:
            continue
        # Spark writes null as an empty field and "" as a quoted empty
        # field; DuckDB's reader keeps that distinction
        path = os.path.join(scratch, name)
        with open(path, "wb") as f:
            f.write(raw)
        df = con.execute("SELECT * FROM read_csv(?, header = true, "
                         "all_varchar = true, allow_quoted_nulls = false)",
                         [path]).df()
        for k, v in cfg["constants"].items():
            assert k in df.columns, f"{tag}: constant column {k} missing"
            assert (df[k] == v).all(), f"{tag}: constant column {k} != {v}"
        if tag not in oracle_cache:
            oracle_cache[tag] = con.execute(expected[tag]).df()
        odf = oracle_cache[tag]
        sdf = df.drop(columns=list(cfg["constants"]))
        assert sorted(sdf.columns) == sorted(odf.columns), \
            f"{tag}: columns {sorted(sdf.columns)} vs {sorted(odf.columns)}"
        assert len(sdf) == len(odf), f"{tag}: rows {len(sdf)} vs {len(odf)}"
        try:
            pd.testing.assert_frame_equal(
                _norm(_typed_like(sdf, odf)), _norm(odf.copy()),
                check_dtype=False, check_exact=True)
        except AssertionError as e:
            raise AssertionError(f"{tag}: {e}") from None
        verified[tag] = h
    return csv_bytes, os.path.getsize(pkg)


def _suffix(out):
    """The package tag that ExportMain appends to every CSV name."""
    return os.path.basename(out["package"])[:-len("_packaged.zip")]


def stream_matches_batch(rt):
    """The union of a pass's micro-batch outputs must equal
    StreamingIntake.intakeBatch on the same feed."""
    bad, notes = set(), []
    seen = {o["pass"] for o in rt["stream_out"]}
    for o in rt["stream_out"]:
        if o["out"] != o["twin"]:
            bad.add(o["pass"])
            notes.append(f"pass {o['pass']}: stream {o['out']} != batch {o['twin']}")
    for p in rt["pass"]:
        if p["pass"] not in seen:
            bad.add(p["pass"])
            notes.append(f"pass {p['pass']}: no stream output recorded")
    return bad, notes
