"""User-facing facade: the reference's API surface, Spark-first.

Migration map for a b-r-u/osmpbf user (every public entry point of the
reference and its engine equivalent):

| reference (Rust)                         | engine (PySpark)            |
|------------------------------------------|-----------------------------|
| ElementReader::from_path(p)              | Engine.from_pbf_path / from_pbf_bytes / from_tables |
| reader.for_each(|el| …)                  | engine.elements() → any DataFrame op |
| reader.par_map_reduce(map, id, reduce)   | engine.elements().groupBy().agg(…) — Catalyst plans partial+final |
| Element::Node/Way/Relation match         | filter(element_type = …)    |
| node.lat()/nano_lat()/decimicro_lat()    | lat / lat_nano / decimicro_lat columns |
| way.refs() (delta-decoded)               | refs column (decoded)       |
| way.node_locations()                     | ref_locations column / way_node_locations() |
| relation.members(), member.role()        | members column              |
| element.tags()                           | tags MAP column             |
| element.raw_tags() (unresolved ids)      | engine.elements_raw() → raw_key_ids / raw_val_ids |
| way.raw_refs() (still delta-coded)       | engine.elements_raw() → refs_delta |
| block.raw_stringtable()                  | engine.stringtables() (one row per entry, raw bytes) |
| info().uid()/user()/visible()/deleted()  | uid/user/visible columns; deleted = NOT visible |
| BlobReader / next_header_skip_blob       | engine.blob_metadata()      |
| Blob::to_headerblock()                   | engine.header()             |
| IndexedReader::read_ways_and_deps(f, cb) | engine.ways_and_deps(predicate) |
| IndexedReader::for_each_node             | engine.nodes()              |

Everything downstream of ``elements()`` is ordinary Spark — the reference
has no further query surface (SURVEY.md §2.6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class Engine:
    """Bound to a (documents, media) pair — the engine's input tables —
    or, from :meth:`from_pbf_path`, to a raw PBF file, whose scans decode
    straight from the file's byte ranges. A file-backed engine builds
    its ``documents``/``media`` tables on their first access."""

    def __init__(self, spark: SparkSession, documents: DataFrame | None,
                 media: DataFrame | None):
        self.spark = spark
        self._tables = (documents, media)
        self._file = None       # ingest.PbfFile of a file-backed engine

    @property
    def documents(self) -> DataFrame:
        return self._tables[0] if self._file is None else \
            self._file.documents

    @property
    def media(self) -> DataFrame:
        return self._tables[1] if self._file is None else self._file.media

    # -- constructors -----------------------------------------------------
    @classmethod
    def from_pbf_bytes(cls, spark: SparkSession, name: str,
                       data: bytes) -> "Engine":
        """Ingest a raw framed *.osm.pbf byte stream (ElementReader::
        from_path analogue, src/reader.rs:145-166)."""
        from .sources.documents import make_documents, pbf_bytes_to_rows
        doc_rows, media_rows = pbf_bytes_to_rows(name, data)
        docs, media = make_documents(spark, doc_rows, media_rows)
        return cls(spark, docs, media)

    @classmethod
    def from_pbf_path(cls, spark: SparkSession, path: str,
                      **kwargs) -> "Engine":
        """Distributed, bounded-memory ingest of a raw *.osm.pbf file of
        any size (chunked frame scan; each decode task maps the file and
        slices its blobs' byte ranges itself; see sources/ingest.py).
        This is the production path for planet-scale files;
        from_pbf_bytes remains for in-memory fixtures. ``documents`` and
        ``media`` hold the same file as tables, built on first access.
        A file no larger than one chunk (``chunk_bytes``, 64 MiB by
        default) is indexed in the driver, with no Spark job."""
        from .sources.ingest import read_pbf_file
        eng = cls(spark, None, None)
        eng._file = read_pbf_file(spark, path, **kwargs)
        return eng

    @classmethod
    def from_tables(cls, spark: SparkSession, documents_path: str,
                    media_path: str) -> "Engine":
        return cls(spark, spark.read.parquet(documents_path),
                   spark.read.parquet(media_path))

    # -- scans ------------------------------------------------------------
    def _decode(self, decode_fn, ddl: str, blob_type: str = "OSMData",
                **kwargs) -> DataFrame:
        """The engine's one decode dispatch: the ``blob_type`` blob rows
        — payload rows of the (documents, media) tables, or a raw file's
        range rows and its path — through ``documents.decode_scan``."""
        from .sources.documents import blob_payloads, decode_scan
        if self._file is None:
            rows, path = blob_payloads(*self._tables, blob_type), None
        else:
            rows, path = self._file.blobs.filter(
                F.col("blob_type") == blob_type), self._file.path
        return decode_scan(rows, decode_fn, ddl, path=path, **kwargs)

    def elements(self, *, decode_partitions: int | None = None
                 ) -> DataFrame:
        from .pbf.decode import decode_blob_batch
        from .sources.documents import ELEMENTS_DDL, with_coordinate_columns
        return with_coordinate_columns(self._decode(
            decode_blob_batch, ELEMENTS_DDL,
            decode_partitions=decode_partitions))

    def nodes(self, **kwargs) -> DataFrame:
        return self.elements(**kwargs).filter(
            F.col("element_type") == "node")

    def ways(self, **kwargs) -> DataFrame:
        return self.elements(**kwargs).filter(F.col("element_type") == "way")

    def relations(self, **kwargs) -> DataFrame:
        return self.elements(**kwargs).filter(
            F.col("element_type") == "relation")

    def elements_raw(self, *, decode_partitions: int | None = None
                     ) -> DataFrame:
        """Raw-access scan: unresolved string-table tag index pairs and
        still-delta-coded way refs (Way::raw_refs,
        src/elements.rs:219-221; raw_tags, src/elements.rs:542-564)."""
        from .pbf.decode import decode_raw_access_batch
        from .sources.documents import RAW_ACCESS_DDL
        return self._decode(decode_raw_access_batch, RAW_ACCESS_DDL,
                            decode_partitions=decode_partitions)

    def stringtables(self) -> DataFrame:
        """Per-block dictionary as raw bytes (raw_stringtable,
        src/block.rs:148-151); join key (doc_id, blob_no, sidx) resolves
        ``elements_raw()`` index pairs."""
        from .pbf.decode import decode_stringtable_batch
        from .sources.documents import STRINGTABLE_DDL
        return self._decode(decode_stringtable_batch, STRINGTABLE_DDL)

    def header(self) -> DataFrame:
        from .sources.documents import (
            HEADER_DDL,
            HEADER_KEYS,
            decode_header_batch,
        )
        return self._decode(decode_header_batch, HEADER_DDL, "OSMHeader",
                            keys=HEADER_KEYS)

    def blob_metadata(self) -> DataFrame:
        from .sources.documents import blob_metadata
        return blob_metadata(self.documents)

    # -- reference operators ----------------------------------------------
    def ways_and_deps(self, predicate, **kwargs):
        from .operators.parity import ways_and_deps
        return ways_and_deps(self.elements(**kwargs), predicate)

    def count_by_type(self, **kwargs) -> DataFrame:
        from .operators.parity import count_by_type
        return count_by_type(self.elements(**kwargs))

    # -- spatial layer ------------------------------------------------------
    def indexed_nodes(self, *, res: int | None = None, **kwargs) -> DataFrame:
        from .functions.grid import GRID_RES_FINE, with_grid_cells
        # `res if res is not None`: res=0 (one whole-world cell) is a
        # legal grid resolution and must not coerce to the default
        return with_grid_cells(self.nodes(**kwargs),
                               res=res if res is not None else GRID_RES_FINE)

    def pip_join(self, polygons: DataFrame, **kwargs) -> DataFrame:
        from .operators.pip import pip_join
        return pip_join(self.indexed_nodes(), polygons, **kwargs)

    # -- geometry layer -----------------------------------------------------
    def way_stats(self, **kwargs) -> DataFrame:
        """Per-way vertex/missing counts, haversine length, bbox
        (``operators.parity.way_geometry_stats``)."""
        from .operators.parity import way_geometry_stats
        return way_geometry_stats(self.elements(**kwargs))

    def multipolygons(self, *, normalize: bool = False,
                      **kwargs) -> DataFrame:
        """Assembled outer/inner rings of every ``type=multipolygon``
        relation; ``normalize`` enforces outer-CCW/inner-CW winding."""
        from .operators.multipolygon import (
            multipolygon_rings,
            normalize_winding,
        )
        rings = multipolygon_rings(self.elements(**kwargs))
        return normalize_winding(rings) if normalize else rings

    def _tile_geoms(self, kind: str, **kwargs):
        """Geometry source for the tile cut: way polylines
        (``kind="line"``) or winding-normalized multipolygon rings
        (``kind="ring"``) → (geoms, id_col)."""
        from .operators.multipolygon import rings_as_polygons
        from .operators.tileclip import way_polylines
        if kind == "line":
            return way_polylines(self.elements(**kwargs)), "way_id"
        if kind == "ring":
            rings = self.multipolygons(normalize=True, **kwargs)
            return (rings_as_polygons(rings, "outer")
                    .unionByName(rings_as_polygons(rings, "inner")),
                    "poly_id")
        raise ValueError(f"unknown kind {kind!r}")

    def vector_tiles(self, *, zoom: int = 12, kind: str = "line",
                     extent: int = 4096,
                     simplify_eps_nano: float | None = None,
                     max_tiles: int | None = None,
                     **kwargs) -> DataFrame:
        """Cut this file's geometry into per-tile quantized features
        (``operators.tileclip.build_vector_tiles``). One row per
        (zoom, tx, ty) with the tile's feature list."""
        from .operators.tileclip import build_vector_tiles
        geoms, id_col = self._tile_geoms(kind, **kwargs)
        return build_vector_tiles(geoms, zoom=zoom, kind=kind,
                                  id_col=id_col, extent=extent,
                                  simplify_eps_nano=simplify_eps_nano,
                                  max_tiles=max_tiles)

    def tile_pyramid(self, *, zooms: list[int], kind: str = "line",
                     extent: int = 4096, simplify: bool = True,
                     max_tiles: int | None = None,
                     **kwargs) -> DataFrame:
        """Cut this file's geometry at every zoom in ``zooms``, each
        level simplified to its one-pixel tolerance
        (``operators.tileclip.build_tile_pyramid``); persist with
        ``sources.store.write_tile_store`` for pruned viewport
        serving."""
        from .operators.tileclip import build_tile_pyramid
        geoms, id_col = self._tile_geoms(kind, **kwargs)
        return build_tile_pyramid(geoms, zooms=zooms, kind=kind,
                                  id_col=id_col, extent=extent,
                                  simplify=simplify, max_tiles=max_tiles)

    def polygon_join(self, zones: DataFrame, *, res: int | None = None,
                     **kwargs) -> DataFrame:
        """This file's assembled multipolygon OUTER rings ⋈ a
        broadcast-small ``zones`` polygon layer → (left_id =
        '<relation_id>/<ring_id>', right_id = zone poly_id, relation)
        for every intersecting pair (``operators.polyjoin``)."""
        from .functions.grid import GRID_RES_COARSE
        from .operators.multipolygon import rings_as_polygons
        from .operators.polyjoin import polygon_intersects_join
        areas = rings_as_polygons(self.multipolygons(**kwargs), "outer")
        return polygon_intersects_join(
            areas, zones, res=res if res is not None else GRID_RES_COARSE)

    def pip_multipolygon(self, *, rings: DataFrame | None = None,
                         res: int | None = None, **kwargs) -> DataFrame:
        """This file's nodes against assembled multipolygons (holes
        subtracted): (id, relation_id)."""
        from .functions.grid import GRID_RES_FINE
        from .operators.multipolygon import pip_multipolygon
        res = res if res is not None else GRID_RES_FINE
        if rings is None:
            rings = self.multipolygons()
        return pip_multipolygon(self.indexed_nodes(res=res), rings,
                                res=res, **kwargs)
