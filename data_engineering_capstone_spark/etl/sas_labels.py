"""Parser for SAS ``proc format`` value-map files → Spark dimension tables.

The reference encodes every dimension (country, port, travel-mode, state,
visa) as ``proc format`` value maps inside a label file (reference:
I94_SAS_Labels_Descriptions.SAS:9-298,302-963,972-976,981-1036,1046-1050)
and leaves turning them into joinable tables as an exercise. This module
is that capability: parse any such file at runtime into
``{format_name: {code: label}}`` and lift each map into a broadcast-sized
DataFrame.

Parsing happens driver-side (label files are KBs of text — dimension
scale, per SURVEY.md §1.1); the resulting dims are broadcast in joins so
the 100 TB fact side never shuffles.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..sources.readers import local_frame

# ``value <name>`` ... ``;``  blocks; entries are  <code> = '<label>'.
# SAS escapes a quote inside a quoted literal by doubling it
# (reference: I94_SAS_Labels_Descriptions.SAS:509  'INT''L FALLS, MN'),
# so quoted atoms are ((?:[^']|'')*) with a post-match unescape.
_BLOCK_RE = re.compile(r"value\s+(\$?\w+)(.*?);", re.IGNORECASE | re.DOTALL)
_ENTRY_RE = re.compile(
    r"""(?:'((?:[^']|'')*)'|([\w.]+))\s*=\s*(?:'((?:[^']|'')*)'|"([^"]*)"|(\S+))"""
)


def parse_sas_value_maps(text: str) -> dict[str, dict[str, str]]:
    """Parse every ``value`` block in a SAS proc-format file.

    Returns ``{format_name: {code: label}}`` with codes and labels as
    trimmed strings (numeric codes keep their text form; the caller
    casts). Handles quoted and bare codes, $-prefixed character formats,
    and multi-line blocks.
    """
    maps: dict[str, dict[str, str]] = {}
    for name, body in _BLOCK_RE.findall(text):
        entries: dict[str, str] = {}
        for m in _ENTRY_RE.finditer(body):
            code = m.group(1) if m.group(1) is not None else m.group(2)
            label = next(g for g in m.groups()[2:] if g is not None)
            entries[code.strip().replace("''", "'")] = label.strip().replace("''", "'")
        if entries:
            maps[name.lstrip("$")] = entries
    return maps


# Comment-encoded maps: the reference file defines I94VISA only inside a
# comment block ("Visa codes collapsed into three categories: 1 =
# Business ...", I94_SAS_Labels_Descriptions.SAS:1046-1050) — there is
# no ``value`` block for it, so a faithful parse must read the comment.
_COMMENT_RE = re.compile(r"/\*(.*?)\*/", re.DOTALL)
_COMMENT_ENTRY_RE = re.compile(r"^\s*(\d+)\s*=\s*([^\r\n]+?)\s*$", re.MULTILINE)


def parse_comment_value_map(text: str, var_name: str) -> dict[str, str]:
    """Extract a ``code = label`` map from the comment block documenting
    ``var_name`` (e.g. ``"I94VISA"``). Returns ``{}`` when the variable's
    comment holds no such lines."""
    for body in _COMMENT_RE.findall(text):
        if not body.lstrip().upper().startswith(var_name.upper()):
            continue
        entries = {
            code: label.strip() for code, label in _COMMENT_ENTRY_RE.findall(body)
        }
        if entries:
            return entries
    return {}


def dim_from_map(
    spark: SparkSession,
    mapping: dict[str, str],
    key_col: str,
    value_col: str,
    key_type: T.DataType | None = None,
) -> DataFrame:
    """Lift a ``{code: label}`` dict into a 2-column dimension DataFrame."""
    schema = T.StructType(
        [
            T.StructField(key_col, T.StringType(), False),
            T.StructField(value_col, T.StringType(), False),
        ]
    )
    df = local_frame(spark, mapping.items(), schema)
    if key_type is not None:
        df = df.withColumn(key_col, df[key_col].cast(key_type))
    return df
