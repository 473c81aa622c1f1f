"""Stage runner: checkpointed, resumable, metered.

The reference's per-stage API is its test/resumability surface — tests
drive scanfs -> prune -> weed -> digest independently and snapshot the
IR between stages (/root/reference/t/006_weed.t:20-23,
t/007_digest.t:20-24), and App.pm wraps every stage in wall-clock
benchmarks printed as a run summary (App.pm:166-219).

Graft realization (north_rule: "resumable from checkpoint with
per-partition lineage + metrics"):

- Each stage is a pure DataFrame -> DataFrame function.
- Stage outputs go to a store, `make_table_io(persist_mode)`: parquet +
  a JSON manifest, an Iceberg catalog, or localCheckpoints that never
  resume.  All three share `manifest`/`write`/`read`, so `run_stage`
  has one path.
- The manifest pins: config hash, upstream fingerprint, row count, wall
  seconds, and PER-PARTITION lineage rows (partition id, rows).  A
  resume replays a stage only if its manifest is missing or its config
  hash / upstream fingerprint changed — otherwise the checkpoint is
  read back, like the reference's tests resuming from a golden IR.
- A stage names its inputs (as the reference hands `prune`'s output to
  `weed`); its upstream fingerprint is the '|'-join of theirs.
  Fingerprints chain the write timestamp, so a re-run of any upstream
  stage (new input, forced rebuild) transitively invalidates everything
  below it; the root's input is the source table (`add_source`), whose
  fingerprint is a CONTENT fingerprint (count + id-hash sum, or a
  caller-supplied snapshot id), so pointing the same checkpoint dir at
  a different input can never silently resume the old corpus.
- In-flight metrics via `df.observe()` (A6, the reference's
  scan/size-dup/real-dup counter triplet, App.pm:424-429): counters
  ride the stage's own action — no second pass over the data.  An
  observation must sit on a SINGLE-SCAN node (post-checkpoint, or an
  aggregate that feeds exactly one consumer); a node referenced by two
  plan branches is evaluated twice and would double-count.
- A `stage_metrics` table accumulates (stage, rows_in, rows_out,
  seconds, skipped, ts) — the App.pm:203-218 run summary as data.
- Q1 early-exit parity (App.pm:268-319 `NO DUPLICATES FOUND ... exit`):
  `skip_stage` records a skipped stage and passes an empty frame
  through, so a stage that empties the candidate set short-circuits
  everything downstream instead of scheduling empty jobs.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from app_dupfind_spark.config import DedupConfig
from app_dupfind_spark.plans import barriers

MANIFEST_NAME = "_manifest.json"
PERSIST_MODES = ("parquet", "iceberg", "memory")


def _partition_lineage(data_dir: Path) -> list[dict]:
    """Per-partition (output file) row counts straight from the parquet
    footers — ZERO Spark jobs.  Stage overhead is driver-side job
    latency at scale, so the audit must not add a pass over the data."""
    import pyarrow.parquet as pq

    out = []
    for i, f in enumerate(sorted(data_dir.glob("*.parquet"))):
        md = pq.ParquetFile(f).metadata
        out.append(
            {"partition_id": i, "file": f.name, "rows": md.num_rows}
        )
    return out


def input_fingerprint(df: DataFrame, id_col: str) -> str:
    """Content fingerprint of a source table: row count + bit_xor of
    xxhash64(id) — order- and partitioning-invariant (xor is
    commutative, overflow-free under ANSI), computed in one
    column-pruned pass.  On Iceberg, pass the snapshot id to the
    pipeline instead and skip this scan entirely."""
    row = (
        df.select(F.xxhash64(F.col(id_col)).alias("__h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(__h)").alias("h"),
        )
        .first()
    )
    return f"input:{row['n']}:{row['h']}"


def encode_manifest_blob(manifest: dict) -> str:
    """Manifest JSON -> base64 for storage in an Iceberg TBLPROPERTIES
    SQL literal.  Spark SQL string literals interpret backslash escapes,
    so raw JSON with a quote/backslash in any meta value (stage name,
    fingerprint) would be mangled in storage and fail json.loads on
    resume (ADVICE r3).  b64 output is [A-Za-z0-9+/=] — literal-safe
    under both quote and backslash rules."""
    import base64

    return base64.b64encode(json.dumps(manifest).encode()).decode()


def decode_manifest_blob(blob: str) -> dict:
    import base64

    return json.loads(base64.b64decode(blob))


def iceberg_runtime_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime jar is on the JVM classpath.
    This sandbox ships none (SURVEY §7); a real cluster adds
    `--packages org.apache.iceberg:iceberg-spark-runtime-...` plus the
    catalog conf, and the selection below needs NO code edits."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class IcebergTableIO:
    """Iceberg-backed stage checkpoints — the north_rule's storage
    contract, same interface as the parquet TableIO:

    - write: `df.writeTo(catalog.ns.stage).using('iceberg')
      .createOrReplace()` — an atomic snapshot commit; concurrent or
      failed runs can never expose a half-written stage (the parquet
      seam's _manifest.json-written-last gives the same ordering).
    - manifest: stored in the table's properties
      (`dupfind.manifest` = the same JSON the parquet seam writes),
      so resume state travels WITH the table through the catalog —
      no side-channel filesystem path that an object store would lack.
    - lineage: per-file row counts from the `.files` metadata table
      (Iceberg's manifest lists), zero data-scan — the metadata-only
      analog of reading local parquet footers.
    - fingerprint extra: the committed snapshot_id rides the manifest,
      so downstream fingerprints chain the actual snapshot identity,
      and `input_fingerprint`'s content scan can be skipped by passing
      a source snapshot id (pipeline.py:73-87 docstring).
    """

    MANIFEST_PROP = "dupfind.manifest"
    resumes = True

    def __init__(
        self, spark: SparkSession, catalog: str, namespace: str = "dupfind"
    ):
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        self.spark.sql(
            f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}"
        )

    def table(self, name: str) -> str:
        return f"{self.catalog}.{self.namespace}.{name}"

    def manifest(self, name: str) -> dict | None:
        if not self.spark.catalog.tableExists(self.table(name)):
            return None
        rows = self.spark.sql(
            f"SHOW TBLPROPERTIES {self.table(name)}"
        ).collect()
        props = {r["key"]: r["value"] for r in rows}
        blob = props.get(self.MANIFEST_PROP)
        return decode_manifest_blob(blob) if blob else None

    def write(self, name: str, df: DataFrame, meta: dict) -> dict:
        tbl = self.table(name)
        df.writeTo(tbl).using("iceberg").createOrReplace()
        snap = self.spark.sql(
            f"SELECT snapshot_id FROM {tbl}.snapshots "
            "ORDER BY committed_at DESC LIMIT 1"
        ).first()
        files = self.spark.sql(
            f"SELECT file_path, record_count FROM {tbl}.files"
        ).collect()
        lineage = [
            {"partition_id": i, "file": r["file_path"], "rows": r["record_count"]}
            for i, r in enumerate(sorted(files, key=lambda r: r["file_path"]))
        ]
        manifest = dict(meta)
        manifest["rows"] = sum(p["rows"] for p in lineage)
        manifest["partitions"] = lineage
        manifest["written_at"] = time.time()
        manifest["snapshot_id"] = snap["snapshot_id"] if snap else None
        blob = encode_manifest_blob(manifest)
        self.spark.sql(
            f"ALTER TABLE {tbl} SET TBLPROPERTIES "
            f"('{self.MANIFEST_PROP}'='{blob}')"
        )
        return manifest

    def read(self, name: str) -> DataFrame:
        return self.spark.read.table(self.table(name))


def make_table_io(
    spark: SparkSession,
    checkpoint_dir: str | Path | None,
    persist_mode: str = "parquet",
    iceberg_catalog: str | None = None,
    iceberg_namespace: str = "dupfind",
):
    """The stage store for `persist_mode`, the one place that reads and
    validates it: 'parquet' (`TableIO`), 'iceberg' (`IcebergTableIO`;
    a real cluster switches by config alone) or 'memory' (`MemoryStore`,
    no `checkpoint_dir`)."""
    if persist_mode == "memory":
        return MemoryStore()
    if persist_mode == "iceberg":
        if not iceberg_catalog:
            raise ValueError(
                "persist_mode='iceberg' requires iceberg_catalog "
                "(a configured Spark catalog name)"
            )
        if not iceberg_runtime_available(spark):
            raise RuntimeError(
                "Iceberg runtime jar not on the classpath; add "
                "iceberg-spark-runtime + catalog conf (SURVEY §7)"
            )
        return IcebergTableIO(spark, iceberg_catalog, iceberg_namespace)
    if persist_mode != "parquet":
        raise ValueError(f"persist_mode={persist_mode!r}; valid: {PERSIST_MODES}")
    if checkpoint_dir is None:
        raise ValueError("persist_mode='parquet' requires a checkpoint_dir")
    return TableIO(spark, checkpoint_dir)


class TableIO:
    """Storage seam: parquet + manifest locally; `IcebergTableIO` above
    is the catalog-backed twin (selected via `make_table_io`), where
    writes are `writeTo(...).createOrReplace()` snapshot commits and
    deletes become MERGE/DELETE (operators/report.py)."""

    resumes = True

    def __init__(self, spark: SparkSession, root: str | Path):
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    def path(self, name: str) -> Path:
        return self.root / name

    def manifest(self, name: str) -> dict | None:
        p = self.path(name) / MANIFEST_NAME
        if not p.exists():
            return None
        return json.loads(p.read_text())

    def write(self, name: str, df: DataFrame, meta: dict) -> dict:
        target = self.path(name)
        df.write.mode("overwrite").parquet(str(target / "data"))
        manifest = dict(meta)
        # lineage + row count come from the parquet footers: exactly ONE
        # Spark job per stage boundary (the write itself) — per-stage
        # driver latency is the fixed cost that caps scaling efficiency
        lineage = _partition_lineage(target / "data")
        manifest["rows"] = sum(p["rows"] for p in lineage)
        manifest["partitions"] = lineage
        manifest["written_at"] = time.time()
        (target / MANIFEST_NAME).write_text(json.dumps(manifest, indent=1))
        return manifest

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(str(self.path(name) / "data"))


class MemoryStore:
    """Stage outputs as eager localCheckpoints, rows counted by
    `observe()` on that single scan: the same stage graph, no storage
    I/O, no directory.  Manifests live in this object, so a new runner
    never resumes.  For the query surface and micro-benchmarks; NOTE
    the round-3 measurement (BASELINE.md): at 3M docs parquet is FASTER
    at high parallelism (571 s vs 929 s at local[8]) because
    block-manager-resident outputs pressure the single JVM's heap when
    all cores allocate, while parquet rides the OS page cache."""

    resumes = False

    def __init__(self):
        self._manifests: dict[str, dict] = {}
        self._frames: dict[str, DataFrame] = {}

    def manifest(self, name: str) -> dict | None:
        return self._manifests.get(name)

    def write(self, name: str, df: DataFrame, meta: dict) -> dict:
        rows = Observation()
        self._frames[name] = df.observe(
            rows, F.count(F.lit(1)).alias("rows")
        ).localCheckpoint(eager=True)
        manifest = dict(meta)
        manifest["rows"] = int(rows.get["rows"])
        manifest["written_at"] = time.time()
        self._manifests[name] = manifest
        return manifest

    def read(self, name: str) -> DataFrame:
        return self._frames[name]


@dataclass
class StageResult:
    name: str
    df: DataFrame
    seconds: float
    rows: int
    resumed: bool
    skipped: bool = False


@dataclass
class PipelineRunner:
    spark: SparkSession
    cfg: DedupConfig
    # None is accepted by the memory store only
    checkpoint_dir: str | Path | None
    metrics: list[dict] = field(default_factory=list)
    # named in-flight counters per stage, populated from df.observe()
    # observations registered during the stage's build (A6)
    counters: dict[str, dict[str, float]] = field(default_factory=dict)
    # the stage store, see make_table_io: "parquet" (durable, resumes),
    # "iceberg" (same contract in a catalog) or "memory" (no resume)
    persist_mode: str = "parquet"
    iceberg_catalog: str | None = None
    iceberg_namespace: str = "dupfind"
    _pending_obs: dict[str, list[tuple[str, Observation]]] = field(
        default_factory=dict, repr=False
    )
    # fingerprints of the sources and of the stages this run ran,
    # resumed or skipped: the only thing `fingerprint` reads
    _fps: dict[str, str] = field(default_factory=dict, repr=False)

    def __post_init__(self):
        self.io = make_table_io(
            self.spark,
            self.checkpoint_dir,
            self.persist_mode,
            iceberg_catalog=self.iceberg_catalog,
            iceberg_namespace=self.iceberg_namespace,
        )
        if self.checkpoint_dir is not None and not barriers.is_local_master(self.spark):
            # intra-stage barriers off a local master are reliable
            # checkpoints and need an RDD checkpoint dir; nest it under
            # the stage-checkpoint root (on a cluster both live on the
            # shared store)
            barriers.ensure_checkpoint_dir(
                self.spark, str(Path(str(self.checkpoint_dir)) / "_rdd_ckpt")
            )

    # ---- in-flight metrics (A6) ------------------------------------

    def observed(self, df: DataFrame, stage: str, name: str = "rows_in") -> DataFrame:
        """Attach a row counter to a stage input; the count rides the
        stage's own action (no extra job).  The returned frame must be
        the one the stage consumes, and must flow through the plan on a
        single-scan path (see module docstring)."""
        obs = Observation()
        self._pending_obs.setdefault(stage, []).append((name, obs))
        return df.observe(obs, F.count(F.lit(1)).alias(name))

    def track(self, stage: str, name: str, obs: Observation) -> None:
        """Register an externally-attached Observation (e.g. a counter
        inside exact_dup_cascade) to be harvested after the stage runs."""
        self._pending_obs.setdefault(stage, []).append((name, obs))

    def _harvest(self, stage: str) -> None:
        for name, obs in self._pending_obs.pop(stage, []):
            slot = self.counters.setdefault(stage, {})
            try:
                vals = obs.get  # populated: the stage action just ran
            except Exception:
                # AQE empty-relation propagation can PRUNE an observed
                # subtree (an upstream HAVING emptied at runtime) — the
                # observation is then never populated.  Its counters are
                # not fabricated, but the loss is recorded, so a missing
                # counter never reads as "no rows".
                slot[f"unobserved_{name}"] = 1
                continue
            for k, v in vals.items():  # keys = the expression aliases
                if v is not None:
                    slot[k] = v

    # ---- stage execution --------------------------------------------

    def add_source(self, name: str, fingerprint: str) -> None:
        """Name a source table, with its fingerprint, as a stage input:
        the root stage lists it in `inputs`."""
        self._fps[name] = fingerprint

    def fingerprint(self, name: str) -> str:
        """Chainable fingerprint of a source, or of a stage this run ran,
        resumed or skipped (else KeyError): name, config hash, row count
        AND write timestamp — any upstream re-run (even to identical
        rows) transitively invalidates downstream resumes (staleness is
        never silent; the cost is one conservative rebuild)."""
        return self._fps[name]

    def _upstream(self, inputs: tuple[str, ...]) -> str:
        return "|".join(self.fingerprint(i) for i in inputs)

    def skip_stage(
        self, name: str, empty_df: DataFrame, reason: str,
        inputs: tuple[str, ...] = (),
    ) -> StageResult:
        """Q1 early-exit: record a skipped stage (empty upstream) and
        pass an empty, correctly-typed frame downstream — the
        reference's 'NO DUPLICATES FOUND ... exit' control flow
        (App.pm:268-319) without killing the independent branches.

        The stage's fingerprint becomes `<name>:skipped:<upstream>` for
        the rest of this run, chained from the inputs that caused the
        skip — so downstream resumes can neither reuse a stale manifest
        of this stage nor survive the empty->non-empty transition
        unnoticed."""
        self._fps[name] = f"{name}:skipped:{self._upstream(inputs)}"
        self.metrics.append(
            {"stage": name, "rows_out": 0, "seconds": 0.0, "resumed": False,
             "skipped": True, "reason": reason}
        )
        return StageResult(name, empty_df, 0.0, 0, False, skipped=True)

    def run_stage(
        self,
        name: str,
        fn: Callable[[], DataFrame],
        inputs: tuple[str, ...] = (),
        force: bool = False,
    ) -> StageResult:
        """Run (or resume) one checkpointed stage: its manifest resumes
        it when the config hash and the upstream (the '|'-join of the
        fingerprints of `inputs`) match."""
        meta = {"config_hash": self.cfg.config_hash(),
                "upstream": self._upstream(inputs), "stage": name}
        m = self.io.manifest(name) or {}
        resumed = not force and all(
            m.get(k) == meta[k] for k in ("config_hash", "upstream")
        )
        t0 = time.time()
        if not resumed:
            m = self.io.write(name, fn(), meta)
            self._harvest(name)
        dt = 0.0 if resumed else time.time() - t0
        self._fps[name] = f"{name}:{m['config_hash']}:{m['rows']}:{m['written_at']}"
        self.metrics.append(
            {"stage": name, "rows_out": m["rows"], "seconds": round(dt, 3),
             "resumed": resumed, "skipped": False,
             "rows_in": self.counters.get(name, {}).get("rows_in")}
        )
        return StageResult(name, self.io.read(name), dt, m["rows"], resumed)

    def metrics_df(self) -> DataFrame:
        return self.spark.createDataFrame(
            [
                (
                    m["stage"],
                    None if m.get("rows_in") is None else int(m["rows_in"]),
                    int(m["rows_out"]),
                    float(m["seconds"]),
                    bool(m["resumed"]),
                    bool(m.get("skipped", False)),
                )
                for m in self.metrics
            ],
            "stage string, rows_in long, rows_out long, seconds double, "
            "resumed boolean, skipped boolean",
        )

    def counters_df(self) -> DataFrame:
        """The A6 counter table (stage, counter, value) — the
        reference's run-summary counters as data (App.pm:424-429)."""
        rows = [
            (stage, k, float(v))
            for stage, kv in self.counters.items()
            for k, v in kv.items()
        ]
        return self.spark.createDataFrame(
            rows or [("", "", 0.0)],
            "stage string, counter string, value double",
        ).where(F.col("stage") != "")
