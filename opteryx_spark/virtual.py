"""Virtual datasets: ``$planets``, ``$satellites``, ``$astronauts``,
``$missions``, ``$variables``, ``$statistics``, ``$stop_words``, ``$user``,
``$no_table``.

The reference ships small built-in sample relations
(``opteryx/virtual_datasets/``) that its SQL batteries lean on.  We provide
the same surface AND the same shapes (row/column counts), so the
reference's own shape-battery statements run unchanged here
(``tests/test_reference_battery.py``):

- ``$planets`` (9×20) carries the NASA planetary fact-sheet values — the
  same public-domain source the reference attests
  (``planet_data.py:15-19``: devstronomy scrape of NASA data) — so
  value-predicate queries match, not just shapes.
- ``$satellites`` (177×8), ``$astronauts`` (357×19), ``$missions``
  (4630×8): the same sample datasets the reference ships, packaged as
  parquet under ``opteryx_spark/data/`` and read into driver memory once,
  when the views are registered (queries never scan the files) —
  value-dependent queries match, not just shapes.  Attested licenses
  differ per dataset (see the reference's own provenance notes):
  astronauts is CC0 (Kaggle NASA astronaut yearbook,
  ``astronaut_data.py:15-18``); satellites is "MIT Licences attested, but
  data appears to be from NASA, which is Public Domain"
  (``satellite_data.py``); missions cites a Kaggle dataset
  (``missions.py:15``) with no explicit license attestation in the
  reference.
- ``$variables`` (43×5) exposes the MySQL-compatible system-variable
  surface (same standard names as the reference's
  ``shared/variables.py:52-96``), ``$statistics`` (17×2) runtime
  counters, ``$stop_words`` (305×1) a common-English stopword list.

Relations register as ``virtual_<name>`` temp views; the dialect rewriter
maps ``$name`` → ``virtual_<name>``.  Each is a ``LocalRelation`` built
by :func:`local_relation`, so no query over one scans an RDD.
"""

from __future__ import annotations

import datetime
import getpass
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
from pyspark.sql.types import StructType

_D = datetime.date
_T = datetime.datetime


# --- $planets: NASA planetary fact sheet (public domain) --------------------

_PLANET_COLS = [
    "id", "name", "mass", "diameter", "density", "gravity",
    "escapeVelocity", "rotationPeriod", "lengthOfDay", "distanceFromSun",
    "perihelion", "aphelion", "orbitalPeriod", "orbitalVelocity",
    "orbitalInclination", "orbitalEccentricity", "obliquityToOrbit",
    "meanTemperature", "surfacePressure", "numberOfMoons",
]

_PLANET_SCHEMA = (
    "id BIGINT, name STRING, mass DOUBLE, diameter BIGINT, density BIGINT, "
    "gravity DECIMAL(3,1), escapeVelocity DOUBLE, rotationPeriod DOUBLE, "
    "lengthOfDay DOUBLE, distanceFromSun DOUBLE, perihelion DOUBLE, "
    "aphelion DOUBLE, orbitalPeriod DOUBLE, orbitalVelocity DOUBLE, "
    "orbitalInclination DOUBLE, orbitalEccentricity DOUBLE, "
    "obliquityToOrbit DOUBLE, meanTemperature BIGINT, "
    "surfacePressure DOUBLE, numberOfMoons BIGINT"
)

# columns: see _PLANET_COLS; units per the NASA fact sheet
import decimal as _dec

_PLANETS = [
    (1, "Mercury", 0.33, 4879, 5427, _dec.Decimal("3.7"), 4.3, 1407.6, 4222.6, 57.9, 46.0, 69.8, 88.0, 47.4, 7.0, 0.205, 0.03, 167, 0.0, 0),
    (2, "Venus", 4.87, 12104, 5243, _dec.Decimal("8.9"), 10.4, -5832.5, 2802.0, 108.2, 107.5, 108.9, 224.7, 35.0, 3.4, 0.007, 177.4, 464, 92.0, 0),
    (3, "Earth", 5.97, 12756, 5514, _dec.Decimal("9.8"), 11.2, 23.9, 24.0, 149.6, 147.1, 152.1, 365.2, 29.8, 0.0, 0.017, 23.4, 15, 1.0, 1),
    (4, "Mars", 0.642, 6792, 3933, _dec.Decimal("3.7"), 5.0, 24.6, 24.7, 227.9, 206.6, 249.2, 687.0, 24.1, 1.9, 0.094, 25.2, -63, 0.001, 2),
    (5, "Jupiter", 1898.0, 142984, 1326, _dec.Decimal("23.1"), 59.5, 9.9, 9.9, 778.6, 740.5, 816.6, 4331.0, 13.1, 1.3, 0.049, 3.1, -108, None, 79),
    (6, "Saturn", 568.0, 120536, 687, _dec.Decimal("9.0"), 35.5, 10.7, 10.7, 1433.5, 1352.6, 1514.5, 10747.0, 9.7, 2.5, 0.057, 26.7, -139, None, 82),
    (7, "Uranus", 86.8, 51118, 1271, _dec.Decimal("8.7"), 21.3, -17.2, 17.2, 2872.5, 2741.3, 3003.6, 30589.0, 6.8, 0.8, 0.046, 97.8, -197, None, 27),
    (8, "Neptune", 102.0, 49528, 1638, _dec.Decimal("11.0"), 23.5, 16.1, 16.1, 4495.1, 4444.5, 4545.7, 59800.0, 5.4, 1.8, 0.011, 28.3, -201, None, 14),
    (9, "Pluto", 0.0146, 2370, 2095, _dec.Decimal("0.7"), 1.3, -153.3, 153.3, 5906.4, 4436.8, 7375.9, 90560.0, 4.7, 17.2, 0.244, 122.5, -225, 0.00001, 5),
]

# discovery cutoffs used by the reference's temporal $planets semantics
PLANET_DISCOVERY_CUTOFFS = (
    (datetime.datetime(1781, 4, 26), 6),   # before Uranus discovered
    (datetime.datetime(1846, 11, 13), 7),  # before Neptune
    (datetime.datetime(1930, 3, 13), 8),   # before Pluto
)


# --- $satellites / $astronauts / $missions: packaged sample data ---------

# The reference ships these sample relations with per-dataset license
# attestations: astronauts CC0 (virtual_datasets/astronaut_data.py:15-18),
# satellites "MIT Licences attested, but data appears to be from NASA,
# which is Public Domain" (satellite_data.py), missions a Kaggle dataset
# with no explicit license attested (missions.py:15).  We package the
# identical data so value-predicate queries -- not just shapes -- match.
_DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _load_packaged(spark: SparkSession, name: str) -> DataFrame:
    # ParquetFile, not read_table: read_table loads pyarrow.dataset, ~4 MB
    # more resident memory for three small files
    table = pq.ParquetFile(os.path.join(_DATA_DIR, f"{name}.parquet")).read()
    # from_arrow_schema maps zone-less timestamps to TIMESTAMP (not
    # TIMESTAMP_NTZ): the reference's timestamp surface
    return local_relation(spark, table, from_arrow_schema(table.schema))


# --- $stop_words: 305 common English words ----------------------------------

_STOP_WORDS = sorted(set("""
about above across after afterwards again against all almost alone along
already also although always am among amongst amount an and another any
anyhow anyone anything anyway anywhere are around as at back be became
because become becomes becoming been before beforehand behind being below
beside besides between beyond both bottom but by ca call can cannot could
did do does doing done down due during each eight either eleven else
elsewhere empty enough even ever every everyone everything everywhere except
few fifteen fifty first five for former formerly forty four from front full
further get give go had has have he hence her here hereafter hereby herein
hereupon hers herself him himself his how however hundred if in indeed into
is it its itself just keep last latter latterly least less ll made make many
may me meanwhile might mine more moreover most mostly move much must my
myself name namely neither never nevertheless next nine no nobody none noone
nor not nothing now nowhere of off often on once one only onto or other
others otherwise our ours ourselves out over own part per perhaps please put
quite rather re really regarding same say see seem seemed seeming seems
serious several she should show side since six sixty so some somehow someone
something sometime sometimes somewhere still such take ten than that the
their them themselves then thence there thereafter thereby therefore therein
thereupon these they third this those though three through throughout thru
thus to together too top toward towards twelve twenty two under unless until
up upon us used using various ve very via was we well were what whatever
when whence whenever where whereafter whereas whereby wherein whereupon
wherever whether which while whither who whoever whole whom whose why will
with within without would yet you your yours yourself yourselves
""".split()))[:305]


# --- $variables: MySQL-compatible system-variable surface (43 names) --------

from opteryx_spark import __version__ as _ENGINE_VERSION

_SYSTEM_VARIABLES: dict[str, tuple[str, object, str, str]] = {
    # name: (type, default, owner, visibility) — same standard surface as
    # the reference's shared/variables.py:52-96 (MySQL-compatible names)
    "auto_increment_increment": ("INTEGER", 1, "internal", "unrestricted"),
    "autocommit": ("BOOLEAN", True, "server", "unrestricted"),
    "character_set_client": ("VARCHAR", "utf8mb4", "server", "unrestricted"),
    "character_set_connection": ("VARCHAR", "utf8mb4", "server", "unrestricted"),
    "character_set_database": ("VARCHAR", "utf8mb4", "server", "unrestricted"),
    "character_set_results": ("VARCHAR", "utf8mb4", "server", "unrestricted"),
    "character_set_server": ("VARCHAR", "utf8mb4", "server", "unrestricted"),
    "collation_connection": ("VARCHAR", "utf8mb4_general_ci", "server", "unrestricted"),
    "collation_database": ("VARCHAR", "utf8mb4_general_ci", "server", "unrestricted"),
    "collation_server": ("VARCHAR", "utf8mb4_general_ci", "server", "unrestricted"),
    "external_user": ("VARCHAR", "", "internal", "restricted"),
    "init_connect": ("VARCHAR", "", "server", "restricted"),
    "interactive_timeout": ("INTEGER", 28800, "server", "unrestricted"),
    "license": ("VARCHAR", "Apache-2.0", "server", "restricted"),
    "lower_case_table_names": ("INTEGER", 0, "server", "restricted"),
    "max_allowed_packet": ("INTEGER", 67108864, "server", "restricted"),
    "max_execution_time": ("INTEGER", 0, "server", "unrestricted"),
    "net_buffer_length": ("INTEGER", 16384, "server", "restricted"),
    "net_write_timeout": ("INTEGER", 28800, "server", "restricted"),
    "performance_schema": ("BOOLEAN", False, "server", "restricted"),
    "sql_auto_is_null": ("BOOLEAN", False, "server", "restricted"),
    "sql_mode": ("VARCHAR", "ANSI", "server", "restricted"),
    "sql_select_limit": ("INTEGER", None, "server", "unrestricted"),
    "system_time_zone": ("VARCHAR", "UTC", "server", "unrestricted"),
    "time_zone": ("VARCHAR", "UTC", "server", "unrestricted"),
    "transaction_read_only": ("BOOLEAN", False, "server", "restricted"),
    "transaction_isolation": ("VARCHAR", "READ-COMMITTED", "server", "restricted"),
    "version": ("VARCHAR", _ENGINE_VERSION, "server", "restricted"),
    "version_comment": ("VARCHAR", "opteryx_spark", "server", "restricted"),
    "wait_timeout": ("INTEGER", 28800, "server", "restricted"),
    "event_scheduler": ("VARCHAR", "OFF", "server", "restricted"),
    "default_storage_engine": ("VARCHAR", "opteryx_spark", "server", "unrestricted"),
    "default_tmp_storage_engine": ("VARCHAR", "opteryx_spark", "server", "unrestricted"),
    "max_cache_evictions_per_query": ("INTEGER", 64, "user", "restricted"),
    "max_cacheable_item_size": ("INTEGER", 2097152, "server", "restricted"),
    "max_local_buffer_capacity": ("INTEGER", 268435456, "server", "restricted"),
    "max_read_buffer_capacity": ("INTEGER", 134217728, "server", "restricted"),
    "disable_optimizer": ("BOOLEAN", False, "user", "restricted"),
    "disable_high_priority": ("BOOLEAN", False, "server", "restricted"),
    "concurrent_reads": ("INTEGER", 4, "server", "restricted"),
    "user_memberships": ("ARRAY", [], "internal", "unrestricted"),
    "morsel_size": ("INTEGER", 67108864, "server", "restricted"),
    "architecture": ("VARCHAR", "spark", "server", "restricted"),
}


def local_relation(
    spark: SparkSession, rows: pa.Table | list[tuple], schema: StructType | str
) -> DataFrame:
    """Small driver-side rows as a DataFrame over a ``LocalRelation``.

    ``rows`` is a pyarrow.Table or a list of tuples; ``schema`` is a
    StructType or a DDL string.  The rows travel inside the plan, so
    Catalyst can fold filters and projections over them, often into a
    result computed on the driver; ``createDataFrame(list)`` instead plans
    a ``Scan ExistingRDD`` that runs a task per core on every query.
    """
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if not isinstance(rows, pa.Table):
        arrow_schema = to_arrow_schema(schema)
        rows = pa.Table.from_pylist(
            [dict(zip(arrow_schema.names, row)) for row in rows], schema=arrow_schema
        )
    return spark.createDataFrame(rows, schema)


def register_virtual_datasets(spark: SparkSession) -> None:
    """Register the static virtual relations (once per session)."""
    local_relation(spark, _PLANETS, _PLANET_SCHEMA).createOrReplaceTempView("virtual_planets")
    # $no_table: one row, one column (reference no_table_data.py:27-32)
    local_relation(spark, [(0,)], "`$column` BIGINT").createOrReplaceTempView("virtual_no_table")
    for _name in ("satellites", "astronauts", "missions"):
        _load_packaged(spark, _name).createOrReplaceTempView(f"virtual_{_name}")
    local_relation(spark, [(w,) for w in _STOP_WORDS], "value STRING").createOrReplaceTempView(
        "virtual_stop_words"
    )
    register_session_state(spark, {}, {})


def register_session_state(
    spark: SparkSession,
    variables: dict,
    statistics: dict,
    user: str | None = None,
    memberships: list[str] | None = None,
) -> None:
    """Refresh the session-state relations ``$variables`` / ``$statistics``
    / ``$user`` (reference ``virtual_datasets/{variables_data,statistics,
    user}.py``).  Called by the cursor before statements referencing them.

    ``$variables`` = the 43 system variables (overlaid with any SET
    values) plus user-defined ``@vars``; ``$statistics`` = 17 runtime
    counters (overlaid with any live values the cursor supplies).
    """
    var_rows = []
    for name, (vtype, default, owner, visibility) in _SYSTEM_VARIABLES.items():
        value = variables.get(name, default)
        var_rows.append((name, "" if value is None else str(value), vtype, owner, visibility))
    for name, value in sorted(variables.items()):
        if name not in _SYSTEM_VARIABLES:
            var_rows.append(
                (name, str(value), type(value).__name__.upper(), "user", "unrestricted")
            )
    local_relation(
        spark, var_rows, "name STRING, value STRING, type STRING, owner STRING, visibility STRING"
    ).createOrReplaceTempView("virtual_variables")

    stat_defaults = {
        "queries_executed": 0, "uptime_seconds": 0, "io_wait_seconds": 0,
        "cpu_wait_seconds": 0, "rows_read": 0, "bytes_read": 0,
        "scans_performed": 0, "plans_cached": 0, "shuffle_partitions": 0,
        "default_parallelism": 0, "executors": 1, "jobs_run": 0,
        "stages_run": 0, "tasks_run": 0, "cache_memory_used": 0,
        "cache_disk_used": 0, "broadcast_joins": 0,
    }
    merged = {**stat_defaults, **{k: v for k, v in statistics.items() if k in stat_defaults}}
    stat_rows = [(k, str(v)) for k, v in merged.items()]
    local_relation(spark, stat_rows, "key STRING, value STRING").createOrReplaceTempView(
        "virtual_statistics"
    )

    try:
        username = user or getpass.getuser()
    except Exception:  # pragma: no cover - no passwd entry in container
        username = user or "anonymous"
    user_rows = [("name", username, "VARCHAR")] + [
        ("membership", m, "VARCHAR") for m in (memberships or [])
    ]
    local_relation(
        spark, user_rows, "attribute STRING, value STRING, type STRING"
    ).createOrReplaceTempView("virtual_user")
