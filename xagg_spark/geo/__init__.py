from .ellipsoid import (A, E2, K0, QP, EPSG_GLOBAL, EPSG_NORTH, EPSG_SOUTH,
                        cea_band_area, forward, forward_cols, pick_epsg,
                        q_auth, q_auth_col)
from .bounds import (canonicalize_axis, crosses_antimeridian, synth_bounds,
                     wrap_lon)
from .clip import (clip_area, clip_polygon_convex, crossing_parity,
                   rect_rect_overlap_area_cea, ring_edges, shoelace_area)
from .cells import (cell_id, cell_id_col, cell_of, cover_bbox,
                    cover_polygon_classified, pack_cell_col, pick_resolution)

__all__ = [
    "A", "E2", "K0", "QP", "EPSG_GLOBAL", "EPSG_NORTH", "EPSG_SOUTH",
    "cea_band_area", "forward", "forward_cols", "pick_epsg", "q_auth",
    "q_auth_col",
    "canonicalize_axis", "crosses_antimeridian", "synth_bounds", "wrap_lon",
    "clip_area", "clip_polygon_convex", "crossing_parity",
    "rect_rect_overlap_area_cea", "ring_edges", "shoelace_area",
    "cell_id", "cell_id_col", "cell_of", "cover_bbox",
    "cover_polygon_classified", "pack_cell_col", "pick_resolution",
]
