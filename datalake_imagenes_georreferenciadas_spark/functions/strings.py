"""String/key functions mirroring the reference's scalar surface.

Reference cites (all /root/reference/):
- composite business key ``INDICE = CODIGO_SECCION_TIPOUSO_APL`` built by
  string concatenation — script_geo.py:197 (5-part variant with RODAL at
  script_geo.py:75) → :func:`composite_key` (F1).
- filename convention ``CODIGO_SECCION_ESPECIE_APL[_suffix].ext`` parsed
  back into columns — download_list_images.py:92-99 → :func:`parse_model_filename`
  (P2), with the ``_grilla/_etiquetas/_rodal`` suffix strip.
- path part extraction (bucket/key recovery from ``RUTA_RESULTADO``) —
  download_list_images.py:59,63-64; script_geo.py:93 → :func:`path_parts` (P4).

All pure column expressions — codegen'd, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def composite_key(*cols: Column | str) -> Column:
    """F1/P3: build the ``_``-joined denormalized business key
    (script_geo.py:197)."""
    return F.concat_ws("_", *[F.col(c).cast("string") if isinstance(c, str) else c.cast("string") for c in cols])


_SUFFIXES = r"(_grilla|_etiquetas|_rodal)$"


def strip_extension(name: Column) -> Column:
    """Filename without its extension (download_list_images.py:92)."""
    return F.regexp_replace(name, r"\.[^.]*$", "")


def strip_model_suffix(stem: Column) -> Column:
    """Drop the model-output suffixes (download_list_images.py:95,98)."""
    return F.regexp_replace(stem, _SUFFIXES, "")


def parse_model_filename(name: Column) -> Column:
    """P2: ``CODIGO_SECCION_ESPECIE_APL[_suffix].ext`` → struct of 4 columns.

    The reference does this with ``str.split('_')`` per file in a Python
    loop (download_list_images.py:92-99); here it is one codegen'd
    expression over the whole column.
    """
    parts = F.split(strip_model_suffix(strip_extension(name)), "_")
    return F.struct(
        F.element_at(parts, 1).alias("codigo"),
        F.element_at(parts, 2).alias("seccion"),
        F.element_at(parts, 3).alias("especie"),
        F.element_at(parts, 4).alias("apl"),
    )


def path_parts(path: Column) -> Column:
    """P4: split an object-store path; expose filename and parent dir.

    Mirrors download_list_images.py:59,63-64 (``RUTA_RESULTADO.split('/')``).
    """
    parts = F.split(path, "/")
    return F.struct(
        F.element_at(parts, -1).alias("filename"),
        F.element_at(parts, -2).alias("parent"),
        F.element_at(parts, 1).alias("root"),
    )
