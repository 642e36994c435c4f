"""Launch-domain source connectors, validation, and enrichment.

Maps SURVEY §2.1-2.3:
- S1/S2/S3 full scan / latest probe / filtered incremental fetch →
  ``LaunchSource`` protocol (local + REST-stub implementations);
- P7 row-level validation (reference Pydantic try/except loop,
  src/ingest.py:314-357) → schema conformance + declarative filters,
  with the reject count the reference reports;
- J1 payload-mass enrichment (reference N+1 HTTP loop,
  src/api.py:253-283) → explode + broadcast left-join + guarded sum.
"""

from __future__ import annotations

from datetime import datetime
from typing import Protocol

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spacex_data_engineering_pipeline_spark.schemas import LAUNCHES_SCHEMA
from spacex_data_engineering_pipeline_spark.session import read_parquet

# raw (pre-validation) launch shape: ISO-8601 strings with Z, as the API
# returns them (reference src/models.py:35-66 parses these per-row)
RAW_COLUMNS = (
    "launch_id",
    "mission_name",
    "date_utc",
    "success",
    "payload_ids",
    "launchpad_id",
    "static_fire_date_utc",
)

# explicit schema for file readers: at 100 TB schema INFERENCE is a
# full extra pass over the data (and nondeterministic under dirty
# input) — raw sources always read with this declared shape and leave
# type conformance to validate_and_conform
RAW_DDL = (
    "launch_id string, mission_name string, date_utc string, success boolean, "
    "payload_ids array<string>, launchpad_id string, static_fire_date_utc string"
)

# CSV cannot carry arrays: payload_ids travels as a delimited string
RAW_CSV_DDL = RAW_DDL.replace("payload_ids array<string>", "payload_ids string")


class ValidationStats:
    """Batch metrics observed IN-FLIGHT on the validation plan
    (``df.observe`` → CollectMetrics): the reject count and the batch-max
    fetch timestamp ride the first action that executes the valid side —
    zero extra jobs over the raw batch (the reference pays a per-row
    Python loop for the same numbers, src/ingest.py:314-357).

    Accessors block until that first action has run; in paths that never
    need the numbers (streaming micro-batches) simply don't read them —
    the observation then costs one accumulator, not a job.

    Contract: the FIRST action over the valid side must execute the
    scan exactly once — aggregate/count/write actions qualify; a global
    sort does NOT (its range partitioner samples the child first, a
    second execution that doubles the metrics). The pipeline's
    ``_validated_batch`` count is the canonical consumer.
    """

    def __init__(self, observation):
        self._obs = observation

    @property
    def rejected(self) -> int:
        return int(self._obs.get["rejected"])

    @property
    def batch_max_date(self) -> datetime | None:
        """max(try_to_timestamp(date_utc)) over the WHOLE fetched batch,
        valid and rejected rows alike — a batch that is 100% rejects
        must still advance the watermark."""
        return self._obs.get["batch_max_date"]


def validate_and_conform(raw: DataFrame) -> tuple[DataFrame, ValidationStats]:
    """Validation as declarative expressions (SURVEY P7/F5/F8):

    - ISO-8601 (incl. 'Z') strings → TimestampType via to_timestamp —
      Spark parses the zone suffix natively, no per-row Python;
    - rows with a NULL launch_id or unparseable/missing date_utc are
      dropped and counted (reference drops per-row at ingest.py:350-353);
    - payload_ids normalized NULL → [] (reference models.py:68-80).

    Returns (valid_conformed_df, stats). ``stats`` is observe-based:
    reject counting is single-pass — the metrics are collected by the
    first action over the valid side, never by a second scan of raw.
    """
    from pyspark.sql import Observation

    parsed = raw.select(
        F.col("launch_id").cast("string").alias("launch_id"),
        F.col("mission_name").cast("string").alias("mission_name"),
        F.try_to_timestamp("date_utc").alias("date_utc"),
        F.col("success").cast("boolean").alias("success"),
        F.coalesce(F.col("payload_ids").cast("array<string>"), F.array()).alias(
            "payload_ids"
        ),
        F.col("launchpad_id").cast("string").alias("launchpad_id"),
        F.try_to_timestamp("static_fire_date_utc").alias("static_fire_date_utc"),
    )
    ok = F.col("launch_id").isNotNull() & F.col("date_utc").isNotNull()
    obs = Observation()
    observed = parsed.observe(
        obs,
        # count(when), not sum(when): count is 0 over an empty batch
        # where sum degenerates to NULL
        F.count(F.when(~ok, F.lit(1))).cast("long").alias("rejected"),
        F.max("date_utc").alias("batch_max_date"),
    )
    valid = observed.filter(ok).withColumn("ingested_at", F.current_timestamp())
    return valid, ValidationStats(obs)


def enrich_with_payload_mass(launches: DataFrame, payloads: DataFrame) -> DataFrame:
    """Payload-mass enrichment join with the reference's exact NULL chain
    (J1): per-payload masses NULL/<=0 excluded (api.py:273-275), missing
    payload ids tolerated (left join; api.py:239-242), launches with no
    payloads or non-positive totals get NULL not 0 (ingest.py:341-346).

    Scale: replaces the reference's N+1 HTTP lookups with one
    broadcast join — payloads is a dimension table; if it outgrows the
    broadcast threshold AQE falls back to shuffle join automatically.
    """
    eligible = payloads.filter(
        F.col("mass_kg").isNotNull() & (F.col("mass_kg") > 0)
    ).select("payload_id", "mass_kg")
    exploded = launches.select(
        "launch_id", F.explode_outer("payload_ids").alias("pid")
    )
    totals = (
        exploded.join(
            F.broadcast(eligible), F.col("pid") == F.col("payload_id"), "left"
        )
        .groupBy("launch_id")
        .agg(F.sum("mass_kg").alias("__total"))
    )
    return (
        launches.drop("total_payload_mass_kg")
        .join(totals, "launch_id", "left")
        .withColumn(
            "total_payload_mass_kg",
            F.when(F.col("__total") > 0, F.round(F.col("__total"), 2)),
        )
        .drop("__total")
        .select(*[f.name for f in LAUNCHES_SCHEMA.fields])
    )


class LaunchSource(Protocol):
    """S1/S2/S3 connector surface (reference src/api.py:17-174)."""

    def fetch_all(self) -> DataFrame: ...

    def fetch_latest(self) -> DataFrame: ...

    def fetch_after(self, watermark: datetime) -> DataFrame: ...


class LocalLaunchSource:
    """Source over a local DataFrame/parquet/JSON — the test double AND
    the pattern for any snapshot-table source: incremental fetch is a
    pushed-down predicate (Catalyst sends ``date_utc > wm`` to the scan),
    pagination is a non-concept (partitioned scans).
    """

    def __init__(self, spark: SparkSession, df: DataFrame):
        self.spark = spark
        self._df = df

    @classmethod
    def from_parquet(cls, spark: SparkSession, path: str) -> "LocalLaunchSource":
        return cls(spark, read_parquet(spark, path))

    @classmethod
    def from_orc(cls, spark: SparkSession, path: str) -> "LocalLaunchSource":
        """ORC source — same columnar pushdown/pruning properties as
        parquet via Spark's native reader; schema declared, not
        inferred, so the validation contract is format-independent."""
        return cls(spark, spark.read.schema(RAW_DDL).orc(path).select(*RAW_COLUMNS))

    @classmethod
    def from_json(
        cls, spark: SparkSession, path: str, multiline: bool = False
    ) -> "LocalLaunchSource":
        """JSON source (JSON Lines by default; ``multiline=True`` for a
        whole-file array-of-objects dump, e.g. a saved API response).
        Declared schema, never inference; unparseable rows surface as
        all-NULL and are dropped + counted by validation (PERMISSIVE
        mode), keeping the poisoned-batch contract of the parquet path.
        """
        reader = spark.read.schema(RAW_DDL).option("mode", "PERMISSIVE")
        if multiline:
            reader = reader.option("multiLine", "true")
        return cls(spark, reader.json(path).select(*RAW_COLUMNS))

    @classmethod
    def from_csv(
        cls, spark: SparkSession, path: str, array_delimiter: str = "|"
    ) -> "LocalLaunchSource":
        """CSV source with header. CSV has no array type, so
        ``payload_ids`` travels as an ``array_delimiter``-joined string
        and is split here; empty/NULL → NULL (validation normalizes
        NULL → [] exactly as for every other source).
        """
        df = (
            spark.read.schema(RAW_CSV_DDL)
            .option("header", "true")
            .option("mode", "PERMISSIVE")
            .csv(path)
        )
        import re

        # split's pattern is a REGEX — escape the delimiter ('|' would
        # otherwise split between every character)
        payload_ids = F.when(
            F.col("payload_ids").isNotNull() & (F.col("payload_ids") != ""),
            F.split("payload_ids", re.escape(array_delimiter), -1),
        )
        return cls(
            spark,
            df.withColumn("payload_ids", payload_ids).select(*RAW_COLUMNS),
        )

    def fetch_all(self) -> DataFrame:
        return self._df

    def fetch_latest(self) -> DataFrame:
        return self._df.orderBy(
            F.try_to_timestamp("date_utc").desc(), F.col("launch_id").desc()
        ).limit(1)

    def fetch_after(self, watermark: datetime) -> DataFrame:
        # server-side $gte filter (reference api.py:113-121) == predicate
        # pushdown; reference uses >= then re-filters client-side with >
        # (ingest.py:298) — net effect is strict >.
        return self._df.filter(F.try_to_timestamp("date_utc") > F.lit(watermark))


class SpaceXApiSource:
    """REST connector mirroring the reference's endpoints (src/api.py):
    GET /launches, GET /launches/latest, POST /launches/query with a
    MongoDB-style ``$gte`` date filter, ascending sort, and a paginated
    loop capped at ``max_pages`` (reference api.py:106, 111-163).

    NETWORK-GATED: requires ``requests``; this environment doesn't
    exercise HTTP, so construction fails softly and tests use
    LocalLaunchSource. The JSON → DataFrame path is shared either way.
    """

    BASE_URL = "https://api.spacexdata.com/v4"
    PAGE_SIZE = 100
    MAX_PAGES = 50

    # the v4 API names these fields differently from the pipeline's raw
    # shape; the reference maps them with pydantic aliases
    # (src/models.py:13-24: id, name, payloads, launchpad) — rows in
    # either naming are accepted (API payloads use the alias, canned
    # fixtures may use the canonical name)
    _API_ALIASES = {
        "launch_id": "id",
        "mission_name": "name",
        "payload_ids": "payloads",
        "launchpad_id": "launchpad",
    }

    def __init__(self, spark: SparkSession, base_url: str | None = None):
        try:
            import requests  # noqa: F401
        except ImportError as e:  # pragma: no cover
            raise NotImplementedError(
                "SpaceXApiSource requires the 'requests' package and network "
                "access; use LocalLaunchSource in offline environments"
            ) from e
        self.spark = spark
        self.base_url = base_url or self.BASE_URL

    def _rows_to_df(self, rows: list[dict]) -> DataFrame:
        projected = [
            tuple(r.get(self._API_ALIASES.get(k, k), r.get(k)) for k in RAW_COLUMNS)
            for r in rows
        ]
        # explicit RAW_DDL schema: inference over API dicts is both an
        # extra pass and ill-defined for an EMPTY page (zero-row fetch
        # must still return the declared raw shape)
        return self.spark.createDataFrame(projected, RAW_DDL)

    def fetch_all(self) -> DataFrame:
        import requests

        resp = requests.get(f"{self.base_url}/launches", timeout=30)
        resp.raise_for_status()
        return self._rows_to_df(resp.json())

    def fetch_latest(self) -> DataFrame:
        import requests

        resp = requests.get(f"{self.base_url}/launches/latest", timeout=30)
        resp.raise_for_status()
        return self._rows_to_df([resp.json()])

    def fetch_after(self, watermark: datetime) -> DataFrame:
        import requests

        rows: list[dict] = []
        page = 1
        while page <= self.MAX_PAGES:
            payload = {
                "query": {"date_utc": {"$gte": watermark.isoformat()}},
                "options": {
                    "sort": {"date_utc": 1},
                    "page": page,
                    "limit": self.PAGE_SIZE,
                },
            }
            resp = requests.post(
                f"{self.base_url}/launches/query", json=payload, timeout=30
            )
            resp.raise_for_status()
            body = resp.json()
            docs = body.get("docs", [])
            rows.extend(docs)
            # stop on hasNextPage false OR an empty page — the empty-page
            # guard (reference api.py:155) protects against servers that
            # keep claiming more pages
            if not body.get("hasNextPage") or not docs:
                break
            page += 1
        return self._rows_to_df(rows)
