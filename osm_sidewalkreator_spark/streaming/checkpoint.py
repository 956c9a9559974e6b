"""Per-tile checkpoint manifest: lineage, metrics, resume.

North-rule requirement: the job "checkpoints per-partition with lineage
+ metrics so it resumes mid-tile". Design (executor-side commit):

- Each tile's output parquet is written BY THE TASK that computed it
  (inside the cogrouped kernel), to ``tiles/tile_<id>.parquet`` via
  write-to-tmp + atomic rename — idempotent under retries and
  speculative duplicates (same tile -> same path, same content).
- The task then drops a commit marker ``markers/<id>.json`` (tile id,
  input fingerprint, per-kind counts, seconds, path), also via rename.
  A crash between parquet and marker re-does exactly one tile.
- The driver never materializes feature rows: it only compacts marker
  files into ``manifest.jsonl`` (idempotent, runs at start and end so a
  crashed run's markers are recovered) and reads the committed paths.
- Resume = anti-join the tile census (``plans.pipeline.tile_census``:
  an order-independent ``bit_xor(xxhash64(...))`` fingerprint per tile)
  against the manifest: only missing or changed tiles recompute, placed
  by the same executor as ``generate_features``.
- Tiles whose kernel emits zero rows still commit a marker (counts={}),
  so they are not recomputed forever.

On this single-node sandbox the tile store is the local FS; on a real
cluster the same protocol targets a task-writable shared store (object
store / DFS) — the rename-commit seam is the only thing to swap.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..plans import pipeline as PL
from ..session import local_frame


class TileManifest:
    def __init__(self, job_dir: str):
        self.dir = Path(job_dir)
        self.dir.mkdir(parents=True, exist_ok=True)
        (self.dir / "tiles").mkdir(exist_ok=True)
        (self.dir / "markers").mkdir(exist_ok=True)
        self.manifest_path = self.dir / "manifest.jsonl"

    def committed(self) -> dict[int, dict]:
        out = {}
        if self.manifest_path.exists():
            for line in self.manifest_path.read_text().splitlines():
                if line.strip():
                    row = json.loads(line)
                    out[row["tile"]] = row
        return out

    def compact_markers(self) -> int:
        """Fold executor-written commit markers into manifest.jsonl
        (idempotent: newest marker for a tile wins; markers removed)."""
        done = self.committed()
        moved = 0
        for mpath in sorted((self.dir / "markers").glob("*.json")):
            try:
                row = json.loads(mpath.read_text())
            except (json.JSONDecodeError, OSError):
                continue  # half-written stray; rename protocol makes
                # this unreachable for completed commits
            done[row["tile"]] = row
            mpath.unlink()
            moved += 1
        if moved:
            tmp = self.manifest_path.with_suffix(".tmp")
            with open(tmp, "w") as f:
                for row in done.values():
                    f.write(json.dumps(row) + "\n")
            os.replace(tmp, self.manifest_path)
        return moved


def _atomic_write_parquet(pdf: pd.DataFrame, path: Path, arrow_schema):
    import pyarrow as pa
    import pyarrow.parquet as pq
    tmp = path.with_name(f".{path.name}.{uuid.uuid4().hex}.tmp")
    # explicit schema: pandas infers float64/object for nullable int
    # columns, which would not round-trip through the Spark read schema
    table = pa.Table.from_pandas(pdf, schema=arrow_schema,
                                 preserve_index=False)
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _atomic_write_json(obj: dict, path: Path):
    tmp = path.with_name(f".{path.name}.{uuid.uuid4().hex}.tmp")
    tmp.write_text(json.dumps(obj))
    os.replace(tmp, path)


_SUMMARY_SCHEMA = "tile long, n_rows long, seconds double"


def run_tiled_job(spark: SparkSession, segs_tiled: DataFrame,
                  kernel, schema, job_dir: str,
                  ctx_tiled: DataFrame | None = None) -> DataFrame:
    """Resumable tiled execution with executor-side tile commit, on the
    pipeline's tiled executor (``plans.pipeline.run_tiles``).

    ``segs_tiled`` must carry a ``tile`` column (plus osm_id/ax/ay/bx/by
    for the lineage fingerprint). ``kernel(key, pdf, ctx_pdf)`` is the
    cogrouped tile kernel (``ctx_pdf`` empty when ``ctx_tiled`` is None).
    Returns the committed outputs of the tiles in the current input.
    """
    man = TileManifest(job_dir)
    man.compact_markers()  # recover a crashed run's commits
    census = PL.tile_census(spark, segs_tiled)
    done = man.committed()
    pending = census
    if done:
        man_df = local_frame(
            spark,
            [(r["tile"], r["input_fingerprint"]) for r in done.values()],
            "tile long, fp long")
        pending = census.join(man_df, ["tile", "fp"], "left_anti")

    tiles_dir = Path(job_dir) / "tiles"
    markers_dir = Path(job_dir) / "markers"
    out_cols = [f.name for f in schema.fields]
    from pyspark.sql.pandas.types import to_arrow_schema
    arrow_schema = to_arrow_schema(schema)

    def committing_kernel(key, pdf: pd.DataFrame, ctx: pd.DataFrame
                          ) -> pd.DataFrame:
        tile, fp = int(key[0]), int(key[1])
        t0 = time.time()
        out = kernel((tile,), pdf.drop(columns=["fp", "_bucket"]), ctx)
        path = tiles_dir / f"tile_{tile}.parquet"
        counts: dict[str, int] = {}
        if len(out):
            _atomic_write_parquet(out, path, arrow_schema)
            if "kind" in out.columns:
                counts = {k: int(v) for k, v in
                          out.groupby("kind").size().items()}
        dt = time.time() - t0
        _atomic_write_json(
            {"tile": tile, "input_fingerprint": fp, "counts": counts,
             "seconds": round(dt, 3),
             "path": str(path) if len(out) else None,
             "committed_at": time.time()},
            markers_dir / f"{tile}.json")
        return pd.DataFrame([(tile, len(out), dt)],
                            columns=["tile", "n_rows", "seconds"])

    # force execution; rows live executor-side only
    PL.run_tiles(spark, segs_tiled, ctx_tiled, pending, committing_kernel,
                 _SUMMARY_SCHEMA).count()
    man.compact_markers()

    paths = [r["path"] for r in man.committed().values()
             if r.get("path") and Path(r["path"]).exists()]
    if not paths:
        return local_frame(spark, [], schema)
    # a tile whose segments all left the input keeps its manifest row,
    # but not its place in the result
    return (spark.read.schema(schema).parquet(*paths)
            .join(census.select("tile"), "tile", "left_semi")
            .select(*out_cols))
