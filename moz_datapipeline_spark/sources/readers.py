"""Readers: Parquet / CSV / JSON / GeoJSON / wide-matrix sources.

The reference's scans (SURVEY §2.1 S1–S6) map to Spark readers with
explicit schemas; geometry arrives as GeoJSON coordinate arrays kept as
nested array columns (no opaque binary type → all geometry math stays
in Catalyst).

Object-store note (S10): every reader takes a path — ``s3a://`` URIs
work unchanged on a cluster with the hadoop-aws jars; locally we read
files. No code changes between the two.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: indicator contract (reference README.md:79-83)
INDICATOR_SCHEMA = T.StructType(
    [
        T.StructField("way_id", T.StringType(), False),
        T.StructField("score", T.DoubleType(), True),
        T.StructField("value", T.DoubleType(), True),
    ]
)

#: GeoJSON linestring feature → flat row with coordinates array
LINESTRING_COORDS = T.ArrayType(
    T.StructType(
        [
            T.StructField("lon", T.DoubleType(), False),
            T.StructField("lat", T.DoubleType(), False),
        ]
    )
)


#: Parquet summary files; Spark's inference reads these before any data file
_SUMMARY_FILES = ("_metadata", "_common_metadata")


def _hidden(name: str) -> bool:
    """Spark's listing rule (``HadoopFSUtils.shouldFilterOutPathName``):
    ``_``/``.`` names and in-flight ``._COPYING_`` files are not data."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _footer_file(fs, hpath):
    """The Hadoop path of the file whose footer Spark's non-merging
    schema inference reads for ``hpath``, or ``None`` when the inference
    is left to Spark: the path is missing (or a glob), or the directory
    holds no data file, or holds a summary file."""
    if not fs.exists(hpath):
        return None
    if not fs.getFileStatus(hpath).isDirectory():
        return hpath
    data = []
    for st in fs.listStatus(hpath):
        p = st.getPath()
        name = p.getName()
        if name.startswith(_SUMMARY_FILES):
            return None
        if _hidden(name):
            continue
        if st.isDirectory():
            raise ValueError(
                f"read_parquet: {hpath.toString()} contains the subdirectory "
                f"{name!r}; a partitioned layout is read with spark.read.parquet"
            )
        data.append((p.toString(), p))
    # ParquetUtils.splitFiles orders the leaves by their path string
    return min(data, key=lambda d: d[0])[1] if data else None


def parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema ``spark.read.parquet(path)`` infers, read from one
    footer on the driver instead of in a Spark job.

    Spark's non-merging inference reads the footer of the first data
    file by path (``_``/``.`` names skipped) and converts it with
    ``ParquetFileFormat.readSchemaFromFooter``; this does the same, with
    a converter built from the session's SQLConf, so session settings
    such as ``spark.sql.legacy.parquet.nanosAsLong`` apply.  A path this
    cannot resolve to one footer (missing, a glob, an empty directory, a
    summary file, schema merging on) goes to Spark's own inference, so
    its result and its ``AnalysisException`` are Spark's.  A directory
    with a partition subdirectory raises ``ValueError``."""
    jvm = spark.sparkContext._jvm
    state = spark._jsparkSession.sessionState()
    conf = state.newHadoopConf()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    hfile = _footer_file(hpath.getFileSystem(conf), hpath)
    if hfile is None or state.conf().isParquetSchemaMergingEnabled():
        return spark.read.parquet(path).schema
    pq = jvm.org.apache.spark.sql.execution.datasources.parquet
    footer = jvm.org.apache.parquet.hadoop.Footer(
        hfile,
        pq.ParquetFooterReader.readFooter(
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(hfile, conf),
            jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
        ),
    )
    converter = pq.ParquetToSparkSchemaConverter(state.conf())
    jschema = pq.ParquetFileFormat.readSchemaFromFooter(footer, converter)
    # a file source's data schema is nullable (DataSource.resolveRelation)
    return T._parse_datatype_json_string(jschema.asNullable().json())


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` for a flat layout (one file, or a
    directory of part files) with the schema passed up front, so
    opening a table or a checkpoint runs no schema-inference job (see
    ``parquet_schema``).  Partitioned layouts keep ``spark.read.parquet``."""
    return spark.read.schema(parquet_schema(spark, path)).parquet(path)


def read_indicator_csv(spark: SparkSession, path: str) -> DataFrame:
    """CSV sink contract of every indicator stage (S3/S8)."""
    return spark.read.csv(path, header=True, schema=INDICATOR_SCHEMA)


def read_csv(spark: SparkSession, path: str, schema=None) -> DataFrame:
    if schema is not None:
        return spark.read.csv(path, header=True, schema=schema)
    return spark.read.csv(path, header=True, inferSchema=True)


def read_points_csv(
    spark: SparkSession, path: str, lon_col: str, lat_col: str
) -> DataFrame:
    """S4: csv2geojson equivalent — CSV with lon/lat columns → point rows."""
    df = spark.read.csv(path, header=True, inferSchema=True)
    return df.withColumn("lon", F.col(lon_col).cast("double")).withColumn(
        "lat", F.col(lat_col).cast("double")
    )


def read_geojson_features(spark: SparkSession, path: str) -> DataFrame:
    """S5: GeoJSON FeatureCollection → one row per feature.

    Distributed: reads the file as JSON text via Spark, explodes the
    features array JVM-side (multiLine mode handles pretty-printed
    files). Properties stay a map; geometry type + raw coordinates JSON
    are exposed for downstream parsing with a typed from_json.
    """
    raw = spark.read.option("multiLine", "true").json(path)
    feats = raw.select(F.explode("features").alias("f"))
    return feats.select(
        F.col("f.geometry.type").alias("geom_type"),
        F.to_json(F.col("f.geometry.coordinates")).alias("coordinates_json"),
        F.col("f.properties.*"),
    )


def linestring_coords(coordinates_json: str | F.Column) -> F.Column:
    """Parse a GeoJSON LineString coordinate JSON into LINESTRING_COORDS."""
    c = (
        F.col(coordinates_json)
        if isinstance(coordinates_json, str)
        else coordinates_json
    )
    pairs = F.from_json(c, T.ArrayType(T.ArrayType(T.DoubleType())))
    return F.transform(
        pairs,
        lambda p: F.struct(p.getItem(0).alias("lon"), p.getItem(1).alias("lat")),
    )


#: fixed shapefile row contract — schema can't be inferred lazily when
#: parsing happens on executors
SHAPEFILE_SCHEMA = (
    "source_file string, "
    "properties map<string,string>, "
    "geom_type string, "
    "coordinates array<struct<lon:double,lat:double>>, "
    "geometry_json string"
)


def read_shapefile(
    spark: SparkSession, path: str, target_crs: str = "EPSG:4326"
) -> DataFrame:
    """S1: Shapefile scan + reprojection (ogr2ogr -t_srs equivalent,
    scripts/base-network.sh:98-99).

    Dependency-free: geometry, attributes, and CRS come from the pure
    stdlib+numpy parsers in ``sources.shapefile`` (.shp records, .dbf
    dBase table, .prj WKT with an ellipsoidal Albers inverse — the only
    projection the reference's datasets use).  No GDAL/geopandas.

    Distributed shape: ``path`` may be one ``.shp`` or a glob; the
    driver only LISTS the files, and each executor task opens + parses
    + reprojects its own files inside a ``mapInPandas`` kernel — no
    feature rows ever pass through the driver. Parallelism is per file
    (the shapefile format is unsplittable), which fits the real
    workload: many small boundary/admin files. LineString coordinates
    surface in the engine's LINESTRING_COORDS convention; every
    geometry also carries its full GeoJSON for polygon consumers.
    """
    import glob as _glob

    if target_crs not in ("EPSG:4326", "epsg:4326"):
        raise NotImplementedError("only EPSG:4326 output is supported")
    files = sorted(_glob.glob(path)) if any(c in path for c in "*?[") else [path]
    if not files:
        raise FileNotFoundError(f"no shapefiles match {path}")
    paths = spark.createDataFrame(
        [(f,) for f in files], "path string"
    ).repartition(len(files))

    def kernel(batches):
        import json as _json
        import os as _os

        from moz_datapipeline_spark.sources import shapefile as shp

        for pdf in batches:
            for p in pdf["path"]:
                stem = p[:-4] if p.lower().endswith(".shp") else p
                shapes = shp.read_shp(open(p, "rb").read())
                encoding = "latin-1"
                if _os.path.exists(stem + ".cpg"):
                    cpg = open(stem + ".cpg").read().strip()
                    encoding = {"UTF-8": "utf-8", "UTF8": "utf-8"}.get(
                        cpg.upper(), cpg or "latin-1"
                    )
                attrs: list[dict] = []
                for dbf_ext in (".dbf", ".DBF"):
                    if _os.path.exists(stem + dbf_ext):
                        attrs = shp.read_dbf(
                            open(stem + dbf_ext, "rb").read(), encoding
                        )
                        break
                prj_wkt = None
                for prj_ext in (".prj", ".PRJ"):
                    if _os.path.exists(stem + prj_ext):
                        prj_wkt = open(stem + prj_ext).read()
                        break
                transform = shp.make_transform(prj_wkt)
                out = []
                for i, (kind, parts) in enumerate(shapes):
                    parts = [
                        np.column_stack(transform(part[:, 0], part[:, 1]))
                        for part in parts
                    ]
                    geo = shp.shape_geojson(kind, parts)
                    is_line = geo is not None and geo["type"] == "LineString"
                    out.append(
                        {
                            "source_file": p,
                            "properties": attrs[i] if i < len(attrs) else {},
                            "geom_type": None if geo is None else geo["type"],
                            "coordinates": [
                                {"lon": float(x), "lat": float(y)}
                                for x, y in geo["coordinates"]
                            ]
                            if is_line
                            else None,
                            "geometry_json": None
                            if geo is None
                            else _json.dumps(geo),
                        }
                    )
                yield pd.DataFrame(
                    out,
                    columns=[
                        "source_file", "properties", "geom_type",
                        "coordinates", "geometry_json",
                    ],
                )

    return paths.mapInPandas(kernel, schema=SHAPEFILE_SCHEMA)


OSM_WAYS_SCHEMA = (
    "osm_id string, NAME string, nodes array<string>, ROAD_CLASS string, "
    "SURF_TYPE string, AVG_COND string, RUC double, length double"
)


def read_osm_ways(spark: SparkSession, path: str) -> DataFrame:
    """S6: OSM XML → ways rows (NAME, nodes array, tags as columns).

    The reference streams way elements out of OSM XML
    (scripts/utils/extract-ways.js:56-63). Distributed shape mirrors the
    shapefile reader: the driver only LISTS files (``path`` may be a
    glob — regional extracts parallelize per file); each executor task
    stream-parses its own files with the stdlib incremental parser
    (``iterparse`` + element eviction, so memory stays at one <way>
    regardless of file size). One country-scale file is a single task —
    an unsplittable-format limitation shared with the reference's
    stream parser.
    """
    import glob as _glob

    files = sorted(_glob.glob(path)) if any(c in path for c in "*?[") else [path]
    if not files:
        raise FileNotFoundError(f"no OSM files match {path}")
    paths = spark.createDataFrame(
        [(f,) for f in files], "path string"
    ).repartition(len(files))

    def kernel(batches):
        import xml.etree.ElementTree as ET

        for pdf in batches:
            for p in pdf["path"]:
                rows = []
                for _, elem in ET.iterparse(p):
                    # end events fire children before parents: a way's
                    # <nd>/<tag> children are intact here, and clearing
                    # processed ways + node/relation elements keeps
                    # memory at O(one element)
                    if elem.tag == "way":
                        tags = {
                            t.get("k"): t.get("v") for t in elem.iter("tag")
                        }
                        rows.append(
                            {
                                "osm_id": elem.get("id"),
                                "NAME": tags.get("NAME"),
                                "nodes": [
                                    nd.get("ref") for nd in elem.iter("nd")
                                ],
                                "ROAD_CLASS": tags.get("ROAD_CLASS"),
                                "SURF_TYPE": tags.get("SURF_TYPE"),
                                "AVG_COND": tags.get("AVG_COND"),
                                "RUC": float(tags["RUC"])
                                if "RUC" in tags
                                else None,
                                "length": float(tags["length"])
                                if "length" in tags
                                else None,
                            }
                        )
                        elem.clear()
                    elif elem.tag in ("node", "relation"):
                        elem.clear()
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "osm_id", "NAME", "nodes", "ROAD_CLASS",
                        "SURF_TYPE", "AVG_COND", "RUC", "length",
                    ],
                )

    return paths.mapInPandas(kernel, schema=OSM_WAYS_SCHEMA)


def read_wide_matrix(spark: SparkSession, path: str) -> DataFrame:
    """S3 + U1 source: the wide OD traffic matrix CSV (one column per
    destination id, 'from' key column)."""
    return spark.read.csv(path, header=True, inferSchema=True)


def dict_of_dicts_to_long(
    spark: SparkSession, path: str, value_name: str
) -> DataFrame:
    """Flood-stats JSON ``{way: {period: value}}`` → long rows.

    These files are small (one row per way × 10 periods); parse on the
    driver, parallelize as a DataFrame — they broadcast into joins.
    """
    with open(path) as fh:
        data = json.load(fh)
    rows = [
        (way, int(period), float(v))
        for way, periods in data.items()
        for period, v in periods.items()
    ]
    return spark.createDataFrame(
        rows, schema=f"way_id string, return_period int, {value_name} double"
    )


def read_json_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    corrupt_col: str = "_corrupt_record",
) -> tuple[DataFrame, DataFrame]:
    """JSONL scan with a dead-letter split: returns ``(good, bad)``.

    A 100 TB ingest always contains malformed records; failing the job
    (FAILFAST) or silently nulling them (plain PERMISSIVE) both lose
    information.  This is the standard quarantine pattern: PERMISSIVE
    mode routes each unparseable line's raw text into ``corrupt_col``,
    ``good`` carries the parsed rows with the column dropped, ``bad``
    carries (raw_record) rows for a dead-letter sink.  Both outputs
    are partitions of ONE scan plan — Catalyst runs the parse once per
    branch, no driver-side pass.

    The caller's ``schema`` must NOT already contain ``corrupt_col``;
    it is appended here (Spark requires it declared when a schema is
    supplied explicitly).
    """
    if corrupt_col in {f.name for f in schema.fields}:
        raise ValueError(
            f"read_json_quarantine: schema already has {corrupt_col!r}"
        )
    full = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType(), True)]
    )
    raw = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )
    # Spark refuses to filter on the corrupt column of an un-cached
    # json scan (SPARK-21610 semantics); caching the parsed frame is
    # the documented resolution and bounds the double-read anyway.
    raw = raw.cache()
    good = raw.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = raw.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_record")
    )
    return good, bad
