"""PySpark-native analytics engine with the capabilities of the reference
`duckdb-routing` DuckDB extension (road routing / travel-time operator family
on top of a full SQL engine), rebuilt Spark-first.

Layout:
    session.py    -- SparkSession builder tuned for local[N] and oracle parity
    routing/      -- the routing operator family (graph, kernels, engine)
    functions/    -- scalar function kits (geo, text)
    operators/    -- dedup / similarity / multimodal / text-analysis operators
    queries/      -- the relational query library (TPC-H-ish + events)
    sources/      -- readers (parquet tables, OSM ways, binary/multimodal)
    streaming/    -- Structured Streaming surface over the events table
    plans/        -- plan-inspection helpers (explain auditing)
    testing.py    -- deterministic synthetic road-grid fixtures
    worker_runtime.py -- per-process Python worker fixes (zip re-read guard)
"""

__version__ = "0.1.0"

from duckdb_routing_spark.session import get_spark  # noqa: F401
from duckdb_routing_spark.worker_runtime import install_zip_cache_guard

# Python workers import this package when they unpickle one of its
# functions, so this installs the guard in every worker that runs them
install_zip_cache_guard()


def connect(tiles: str | None = None, spark=None, sf_dir: str | None = None, **session_kwargs):
    """One-call session bring-up — the switching-user entry point.

    The reference's `LOAD travel_time; SET valhalla_tiles='...'` becomes
    ``spark = connect(tiles='...')``: returns a SparkSession with the ST_*
    spatial kit registered, the routing SQL surface registered and its graph
    loaded (when ``tiles`` names a tile dir / .routing artifact / .osm.pbf /
    valhalla.json / http(s) URL), and, when ``sf_dir`` is given, the fixture
    tables registered as views. The engine handle is available as
    ``spark.routing_engine`` for DataFrame-level APIs (matrix, isochrone,
    request)."""
    from duckdb_routing_spark.functions.geo import register_geo_functions
    from duckdb_routing_spark.functions.text import register_text_functions
    from duckdb_routing_spark.functions.vector import register_vector_functions
    from duckdb_routing_spark.session import register_testdata_views

    if spark is None:
        spark = get_spark(**session_kwargs)
    register_geo_functions(spark)
    register_text_functions(spark)
    register_vector_functions(spark)
    if tiles is not None:
        from duckdb_routing_spark.routing import RoutingEngine

        eng = RoutingEngine(spark)
        eng.load_config(tiles)
        eng.register()
        spark.routing_engine = eng
    if sf_dir is not None:
        register_testdata_views(spark, sf_dir)
    return spark
