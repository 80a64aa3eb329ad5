#!/usr/bin/env python
"""Ingest a raw *.osm.pbf file of ANY size, distributed and with bounded
memory — what a reference user does first with a 70 GB planet file
(ElementReader::from_path, /root/reference/src/reader.rs:145-166; the
mmap path /root/reference/src/mmap_blob.rs:39-77).

    python examples/ingest_planet.py [file.osm.pbf]

Without an argument, a synthetic multi-block file is written to /tmp and
ingested with deliberately tiny chunks so the chunked frame scan and
contiguity gate exercise; the decode tasks then slice each blob's byte
range out of the mmap'd file themselves.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from osmpbf_spark.api import Engine
from osmpbf_spark.session import get_spark


def main():
    spark = get_spark("ingest-example")
    spark.sparkContext.setLogLevel("ERROR")
    if len(sys.argv) > 1:
        path, chunk = sys.argv[1], 64 * 1024 * 1024
    else:
        from osmpbf_spark.pbf.encode import (
            Node,
            encode_blob,
            encode_primitive_block,
            frame_fileblock,
        )
        from osmpbf_spark.sources.fixtures import fixture_file_bytes
        blocks = [frame_fileblock("OSMData", encode_blob(
            encode_primitive_block(
                [[Node(id=b * 5000 + i, lat_raw=i, lon_raw=-i)
                  for i in range(5000)]], dense=True)))
            for b in range(20)]
        path = "/tmp/ingest_example.osm.pbf"
        with open(path, "wb") as f:
            f.write(fixture_file_bytes("zlib_dense") + b"".join(blocks))
        chunk = 64 * 1024

    eng = Engine.from_pbf_path(spark, path, chunk_bytes=chunk)
    eng.blob_metadata().groupBy("blob_type").agg(
        F.count("*").alias("blobs"),
        F.sum("datasize").alias("bytes")).show()
    eng.count_by_type().show()
    spark.stop()


if __name__ == "__main__":
    main()
