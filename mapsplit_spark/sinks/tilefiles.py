"""Per-tile addressable file output — the reference's primary UX: one
file per tile at a path built from a ``%x %y %z`` template
(MapSplit.java:1211-1219; default layout ``base/z/x_y.osm.pbf``).

At 100 TB the stored parquet layout (``zorder.write_tiles``: keyed on
the z16 curve, one directory per z4 cell) is the right sink — millions
of tiny files are an object-store anti-pattern — but per-tile
addressability is what reference users script against, so this sink
writes each tile's manifest (JSON) to its templated path.
Distributed: the manifest relation is written via ``foreachPartition``
(each executor writes only its own tiles; no driver collect) onto a
shared filesystem — the same contract the reference's local-FS output
assumes.  Tile counts here are bounded (modified tiles of one run), and
the partition count bounds concurrent file handles exactly like the
reference's maxFiles batching (MapSplit.java:1184-1246) — without the
K re-scans.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame

DEFAULT_TEMPLATE = "%z/%x_%y.json"


def tile_path(base: str, template: str, z: int, x: int, y: int) -> str:
    """Expand the reference's %x/%y/%z placeholders."""
    rel = (template.replace("%z", str(z)).replace("%x", str(x))
           .replace("%y", str(y)))
    return os.path.join(base, rel)


def export_tile_files(manifests: DataFrame, base: str,
                      template: str = DEFAULT_TEMPLATE) -> None:
    """Write one JSON file per manifest row at its templated path.

    ``manifests``: (zoom, tile_x, tile_y, element_ids, n).  Blob shape
    matches the MBTiles manifest payload: ``{"ids":[...],"n":N}``.
    """
    if "%x" not in template or "%y" not in template:
        raise ValueError("tile file template must contain %x and %y")
    if "%z" not in template:
        # multi-zoom manifests (optimized runs) would silently collide
        # on the same path — refuse unless the output is single-zoom
        n_zooms = manifests.select("zoom").distinct().count()
        if n_zooms > 1:
            raise ValueError(
                f"tile file template lacks %z but manifests span {n_zooms} "
                "zoom levels — tiles would overwrite each other"
            )
    os.makedirs(base, exist_ok=True)

    def write_partition(rows) -> None:
        for r in rows:
            path = tile_path(base, template, int(r["zoom"]),
                             int(r["tile_x"]), int(r["tile_y"]))
            os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
            with open(path, "w") as fh:
                json.dump({"ids": list(r["element_ids"]), "n": int(r["n"])},
                          fh, separators=(",", ":"))

    manifests.select("zoom", "tile_x", "tile_y", "element_ids", "n") \
        .foreachPartition(write_partition)
