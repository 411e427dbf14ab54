"""Reference-API compatibility façade.

One function per public callable of the reference modules, same names and
argument shapes (minus the GCS/MySQL credentials), each implemented on the
engine. A user of ``aguinez/datalake_imagenes_georreferenciadas`` can switch imports and keep
their orchestration code; underneath, every call is a DataFrame plan.

| reference                                   | here                          |
|---------------------------------------------|-------------------------------|
| script_geo.GetExtent (19-30)                | ``get_extent``                |
| script_geo.ReprojectCoords (33-39)          | ``reproject_coords``          |
| script_geo.convertirCoordenadas (42-61)     | ``convertir_coordenadas``     |
| script_geo.rev_geoext (64-68)               | ``rev_geoext``                |
| script_geo.unique_places (71-77)            | ``unique_places``             |
| script_geo.get_predio_centroide (80-107)    | ``get_predio_centroide``      |
| script_geo.polygono_mascercano (110-126)    | ``polygono_mascercano``       |
| script_geo.get_properties_mascercano(131-140)| ``get_properties_mascercano``|
| download_list_images.image_list (32-38)     | ``image_list``                |
| download_list_images.upload_file (44-55)    | ``upload_file``               |
| download_list_images.download_filtered_images (57-65) | ``download_filtered_images`` |
| mysql_process.last_id (13-25)               | ``CatalogStore.last_id``      |
| mysql_process.proc_ejecucion (28-43)        | ``CatalogStore.start_run``    |
| mysql_process.insert_catalog (46-61)        | ``CatalogStore.insert_catalog``|
| mysql_process.update_processed_img (83-91)  | ``CatalogStore.update_processed_img`` |

Row-level scalar helpers (GetExtent & friends) accept and return plain
Python values exactly like the reference — they delegate to the same
arithmetic the column kernels use, so a driver-side caller and a
DataFrame plan can never disagree. Set-level calls take/return DataFrames.
Known reference bugs (SURVEY §2.11) are fixed, not reproduced: the
containment result is *used* (bug 1), unclassifiable rows yield nulls
instead of a KeyError (bug 2), and object keys hash content (bug 5).
"""

from __future__ import annotations

import hashlib
import math
import os
from glob import glob

from pyspark.sql import DataFrame

from .catalog.store import CatalogStore
from .operators.spatial import classify_points

__all__ = [
    "get_extent",
    "reproject_coords",
    "convertir_coordenadas",
    "rev_geoext",
    "unique_places",
    "get_predio_centroide",
    "polygono_mascercano",
    "get_properties_mascercano",
    "image_list",
    "upload_file",
    "download_filtered_images",
    "CatalogStore",
]



def get_extent(gt: list[float], cols: int, rows: int) -> list[tuple[float, float]]:
    """script_geo.GetExtent (19-30): 4 corner points of a raster, same
    corner order ((0,0),(0,rows),(cols,rows),(cols,0))."""
    out = []
    for px, py in ((0, 0), (0, rows), (cols, rows), (cols, 0)):
        out.append(
            (gt[0] + px * gt[1] + py * gt[2], gt[3] + px * gt[4] + py * gt[5])
        )
    return out


def reproject_coords(
    coords: list[tuple[float, float]], zone: int = 18
) -> list[tuple[float, float]]:
    """script_geo.ReprojectCoords (33-39), EXACT for a southern-hemisphere
    UTM ``zone``: evaluates the same Snyder inverse-TM step chain the
    engine and oracles share (functions.geo.utm_inverse_steps) in pure
    Python — mm-equivalent to
    the reference's pyproj transform, no wheel required. (Round 1-5
    shipped an equirectangular approximation; the exact series replaced
    it in round 6.)"""
    from .functions.geo import utm_inverse_steps

    env = {"sin": math.sin, "cos": math.cos, "sqrt": math.sqrt}
    out = []
    for x, y in coords:
        vals: dict = {}
        for name, expr in utm_inverse_steps(repr(float(x)), repr(float(y)), zone):
            # "__"-prefixed step names aren't valid eval locals; rename
            scope = {k.replace("__", "XX"): v for k, v in vals.items()}
            vals[name] = eval(  # noqa: S307 - our own generated step text
                expr.replace("__", "XX"), env, scope
            )
        out.append((vals["lon"], vals["lat"]))
    return out


def convertir_coordenadas(features: list[dict], zone: int = 18) -> list[dict]:
    """script_geo.convertirCoordenadas (42-61): reproject every feature
    ring UTM→WGS84; properties pass through untouched."""
    out = []
    for ft in features:
        out.append(
            {
                "coordinates": [reproject_coords(ring, zone) for ring in ft["coordinates"]],
                "properties": dict(ft["properties"]),
            }
        )
    return out


def rev_geoext(coords: list) -> list[tuple[float, float]]:
    """script_geo.rev_geoext (64-68): drop z / keep (x, y) pairs."""
    return [(c[0], c[1]) for c in coords]


def unique_places(features: list[dict]) -> list[str]:
    """script_geo.unique_places (71-77): first-seen-order distinct
    composite keys CODIGO_SECCION_RODAL_TIPOUSO_APL."""
    seen: dict[str, None] = {}
    for ft in features:
        p = ft["properties"]
        key = "_".join(
            str(p[k]) for k in ("CODIGO", "SECCION", "RODAL", "TIPOUSO", "APL")
        )
        seen.setdefault(key, None)
    return list(seen)


def get_predio_centroide(points: DataFrame, polys: DataFrame) -> DataFrame:
    """script_geo.get_predio_centroide (80-107) — containment test with
    nearest-vertex fallback, per point, as ONE plan (and unlike the
    reference, the containment result is actually used — §2.11 bug 1)."""
    return classify_points(points, polys)


def polygono_mascercano(points: DataFrame, polys: DataFrame) -> DataFrame:
    """script_geo.polygono_mascercano (110-126): nearest vertex among the
    given polygons per point."""
    from .operators.spatial import nearest_vertex_join

    return nearest_vertex_join(points, polys)


#: script_geo.get_properties_mascercano (131-140): argmin across the
#: per-file candidates, subsumed by the same deterministic argmin
get_properties_mascercano = polygono_mascercano


def image_list(root: str) -> list[str]:
    """download_list_images.image_list (32-38): two-level glob."""
    return sorted(
        p for p in glob(os.path.join(root, "*", "*")) if os.path.isfile(p)
    )


def upload_file(directory: str, fileroute: str, dest_root: str) -> str:
    """download_list_images.upload_file (44-55) with §2.11 bug 5 fixed:
    the object key is md5(CONTENT), not md5(os.urandom)."""
    with open(fileroute, "rb") as f:
        content = f.read()
    ext = fileroute.rsplit(".", 1)[-1]
    key = hashlib.md5(content).hexdigest()
    dest_dir = os.path.join(dest_root, directory)
    os.makedirs(dest_dir, exist_ok=True)
    dest = os.path.join(dest_dir, f"{key}.{ext}")
    with open(dest, "wb") as f:
        f.write(content)
    return dest


def download_filtered_images(
    store: CatalogStore, id_proceso: int, tipo_img: list[int], indice: str
) -> list[dict]:
    """download_list_images.download_filtered_images (57-65): the flagship
    catalog query (J1); returns [{'ID': ..., 'RUTA_RESULTADO': ...}] rows
    exactly like the reference's DictCursor (mysql_process.py:77-78)."""
    rows = store.filtered_paths(id_proceso, tipo_img, indice).collect()
    return [{"ID": r["id"], "RUTA_RESULTADO": r["ruta_resultado"]} for r in rows]
