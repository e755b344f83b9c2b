"""Self-test of the benchmark's inputs: the same seed yields
byte-identical request lists, CDC segments and source tables, and a
different seed yields different ones. Needs no Spark.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import tempfile

import datagen as dg

HERE = os.path.dirname(os.path.abspath(__file__))


def digest(seed: int, scratch: str) -> dict[str, str]:
    """SHA-256 of every generated input for one seed."""
    out = {}
    cubes = {"daily": "daily_cube"}
    for name, families in (("serve", dg.SERVE_FAMILIES), ("cdc", dg.CDC_READ_FAMILIES)):
        for client in range(2):
            reqs = dg.serve_requests(seed, client, cubes, families)
            out[f"requests/{name}/{client}"] = hashlib.sha256(
                dg.dumps_canonical(reqs)).hexdigest()
    data = os.path.join(scratch, "data")
    dg.write_all_tables(seed, data)
    base = dg.events_table(seed)
    dg.land_cdc(dg.cdc_changes(seed, base, 4, 500), os.path.join(data, "landing"))
    for root, _, names in os.walk(data):
        for f in sorted(names):
            path = os.path.join(root, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, data)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def main() -> int:
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(HERE, ".work"))
    try:
        a1 = digest(7, os.path.join(scratch, "a"))
        a2 = digest(7, os.path.join(scratch, "b"))
        b = digest(8, os.path.join(scratch, "c"))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    same = [k for k in a1 if a1[k] == a2.get(k)]
    differ = [k for k in a1 if a1[k] != b.get(k)]
    # region and nation are fixed dimension tables: no seed moves them
    fixed = {"region.parquet", "nation.parquet"}
    ok = (len(same) == len(a1) == len(a2)
          and set(differ) == set(a1) - fixed)
    print(f"same seed: {len(same)}/{len(a1)} inputs byte-identical")
    print(f"other seed: {len(differ)}/{len(a1) - len(fixed)} seeded inputs differ")
    print("selftest", "ok" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
