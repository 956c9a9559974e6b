"""Self-test of the benchmark's own machinery (no Spark session):

1. the same seed gives byte-identical input files,
2. a different seed gives different input files,
3. a corrupted output is counted as a failed call.

    python3 perfbench/selftest.py      # from the checkout root

Exits 0 and prints "selftest ok" when all three hold.
"""

from __future__ import annotations

import hashlib
import shutil
import sys
from pathlib import Path

import numpy as np
import pandas as pd

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import gen  # noqa: E402
from perfbench import workloads as W  # noqa: E402


def write_inputs(seed: int, out: Path) -> dict[str, str]:
    """Every generated table of every workload; returns file digests."""
    city = gen.City(seed, "dense")
    city.write(out / "city")
    city.add_edit_stubs(seed)
    city.write(out / "city", out / "edited")
    tables = {**gen.Pages(seed, 2_000).tables(),
              **{"docs": (c := gen.Corpus(seed, 300, 200)).docs,
                 "emb": c.emb}}
    for name, table in tables.items():
        gen.write_table(out / f"{name}.parquet", table)
    return {str(p.relative_to(out)): hashlib.sha256(p.read_bytes())
            .hexdigest() for p in sorted(out.rglob("*.parquet"))}


def corrupted_outputs_fail() -> list[str]:
    problems = []
    # a crossing with its two kerbs, then the same with one kerb moved
    xy = np.array([[0, 0], [1, 0], [2, 0], [3, 0], [4, 0]], float)
    rows = [{"kind": "crossing", "fid": 1, "length": 4.0, "ref_id": None,
             "geometry": gen._line_wkb(xy)}]
    rows += [{"kind": "kerb", "fid": 2 + i, "length": None, "ref_id": 1,
              "geometry": gen._point_wkb(*xy[v])}
             for i, v in enumerate((1, 3))]
    rec = W.Recorder()
    check = W.city_check(W.SameEveryCall())
    rec.call("good", lambda: rows, check)
    bad = rows[:2] + [dict(rows[2], geometry=gen._point_wkb(3.5, 0.0))]
    rec.call("bad", lambda: bad, check)
    if (rec.attempted, rec.failed) != (2, 1):
        problems.append(f"city check: attempted/failed "
                        f"{rec.attempted}/{rec.failed}, want 2/1")
    # a page join result with one page moved to another block
    pg = gen.Pages(7, 2_000)
    truth = pg.rect_truth()
    good = pd.DataFrame({"url": pg.url, "block_id": truth})
    wrong = good.copy()
    wrong.loc[5, "block_id"] += 1
    rec = W.Recorder()
    check = W.join_checks(pg)["pip_rect"]
    rec.call("good", lambda: good, check)
    rec.call("bad", lambda: wrong, check)
    if (rec.attempted, rec.failed) != (2, 1):
        problems.append(f"join check: attempted/failed "
                        f"{rec.attempted}/{rec.failed}, want 2/1")
    return problems


def main() -> int:
    base = ROOT / "data" / "perfbench" / "selftest"
    shutil.rmtree(base, ignore_errors=True)
    try:
        a = write_inputs(11, base / "a")
        b = write_inputs(11, base / "b")
        c = write_inputs(12, base / "c")
    finally:
        shutil.rmtree(base, ignore_errors=True)
    problems = []
    if a != b:
        problems.append("same seed, different bytes: "
                        f"{[k for k in a if a[k] != b.get(k)]}")
    same = sorted(k for k in a if a[k] == c.get(k))
    if same:
        problems.append(f"another seed left these inputs unchanged: {same}")
    problems += corrupted_outputs_fail()
    for p in problems:
        print(p, file=sys.stderr)
    print("selftest ok" if not problems else "selftest FAILED")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
