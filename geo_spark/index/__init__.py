from geo_spark.index.cells import (  # noqa: F401
    MAX_RES,
    cell_encode,
    cell_decode,
    cell_parent,
    cover_bbox,
    cover_polygon,
    disk_cells,
)
