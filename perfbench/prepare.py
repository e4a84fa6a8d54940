"""Input data and oracle digests, prepared once per checkout.

- The sf1 tables are generated from the read-only sf0.1 test data by the
  repository's own ``scripts/gen_scale.py --mult 10`` into
  ``perfbench/.work/data/sf1``; generation time is recorded on its own.
- Every data directory a workload reads is fingerprinted (per-table row
  count from the parquet footer plus a sha256 of the file bytes) and
  checked against the fingerprint recorded when it was first seen.
- DuckDB oracle digests (``registry.ORACLES``) are computed once per
  data fingerprint and cached as JSON next to the data.
"""

from __future__ import annotations

import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

import lib

class DataError(RuntimeError):
    """Input data is missing or differs from what was recorded."""


def table_fingerprint(path: Path) -> dict:
    import pyarrow.parquet as pq

    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for block in iter(lambda: fh.read(1 << 20), b""):
            h.update(block)
    return {"rows": pq.ParquetFile(path).metadata.num_rows, "sha256": h.hexdigest()}


def dir_fingerprint(sf_dir: Path, tables_names) -> dict:
    tables = {}
    for t in tables_names:
        p = sf_dir / f"{t}.parquet"
        if not p.exists():
            raise DataError(f"missing table {p}")
        tables[t] = table_fingerprint(p)
    digest = hashlib.sha256(json.dumps(tables, sort_keys=True).encode()).hexdigest()
    return {"digest": digest, "tables": tables}


def _generate_sf1(root: Path, src: Path, dst: Path) -> float:
    tmp = dst.with_name(dst.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.perf_counter()
    subprocess.run(
        [
            sys.executable,
            str(root / "scripts" / "gen_scale.py"),
            "--mult",
            "10",
            "--src",
            str(src),
            "--dst",
            str(tmp),
        ],
        check=True,
        stdout=subprocess.DEVNULL,
    )
    gen_s = time.perf_counter() - t0
    os.rename(tmp, dst)
    return gen_s


def _oracle_digests(sf_dir: Path, tables, names: list[str], oracles: dict[str, str]) -> dict:
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir / (t + '.parquet')}'")
    out = {}
    for name in names:
        t0 = time.perf_counter()
        cur = con.execute(oracles[name])
        cols = [d[0] for d in cur.description]
        digest, rows = lib.result_digest(cols, cur.fetchall())
        out[name] = {"digest": digest, "rows": rows, "oracle_s": time.perf_counter() - t0}
    con.close()
    return out


def prepare(root: Path, work: Path, testdata: Path, tables, needs: dict[str, list[str]], oracles: dict[str, str]) -> dict:
    """Make every data directory in ``needs`` (label -> query names)
    ready and verified; return per-label ``dir``, ``fingerprint``,
    ``oracle`` (query -> digest) and ``gen_s``.

    ``needs`` uses the labels ``sf0.1`` (the read-only test data) and
    ``sf1`` (generated here). Holding a lock, so concurrent runs in one
    checkout prepare once.
    """
    work.mkdir(parents=True, exist_ok=True)
    data_root = work / "data"
    data_root.mkdir(exist_ok=True)
    with open(work / "prepare.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        out = {}
        for label, names in sorted(needs.items()):
            manifest_path = data_root / f"{label}.json"
            manifest = json.loads(manifest_path.read_text()) if manifest_path.exists() else {}
            if label == "sf1":
                sf_dir = data_root / "sf1"
                if not sf_dir.exists():
                    manifest = {"gen_s": _generate_sf1(root, testdata / "sf0.1", sf_dir)}
            else:
                sf_dir = testdata / label
            if not sf_dir.is_dir():
                raise DataError(f"missing data directory {sf_dir}")
            fp = dir_fingerprint(sf_dir, tables)
            if "fingerprint" in manifest and manifest["fingerprint"] != fp:
                raise DataError(f"{sf_dir} differs from its recorded fingerprint")
            manifest["fingerprint"] = fp
            cache = manifest.setdefault("oracle", {}).setdefault(fp["digest"], {})
            missing = [n for n in names if n in oracles and n not in cache]
            if missing:
                cache.update(_oracle_digests(sf_dir, tables, missing, oracles))
            manifest_path.write_text(json.dumps(manifest, indent=1, sort_keys=True))
            out[label] = {
                "dir": str(sf_dir),
                "fingerprint": fp["digest"],
                "rows": {t: v["rows"] for t, v in fp["tables"].items()},
                "oracle": cache,
                "gen_s": manifest.get("gen_s"),
            }
        return out
