"""String-KV canonicalization and markdown rendering (SURVEY.md F1-F3).

The reference canonicalizes every record to ``Dict[str, str]`` before
prompting (``src/python/instructionspipe/utils.py:20-27`` ``json2str_kv``) and
renders dicts / stage results as ``# key\nvalue`` markdown sections
(``utils.py:51-63`` ``json_str_kv_to_md``;
``instructions.py:133-141`` ``instructions_to_md``). Here both are pure Column
expressions: stringification via ``to_json``/``cast``, rendering via
``concat_ws`` — codegen-friendly, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from instructionspipe_spark.functions.nulls import is_valid


def stringify(df: DataFrame | T.StructType, col: str) -> Column:
    """json2str_kv for one column: strings pass through, everything complex
    becomes compact JSON, scalars become their string cast. ``df`` may be
    the frame or just its schema."""
    schema = df if isinstance(df, T.StructType) else df.schema
    dtype = schema[col].dataType
    c = F.col(col)
    if isinstance(dtype, T.StringType):
        return c
    if isinstance(dtype, (T.StructType, T.ArrayType, T.MapType)):
        return F.to_json(c)
    return c.cast("string")


def kv_markdown(df: DataFrame, cols: list[str], drop_invalid: bool = True) -> Column:
    """Render selected columns as ``# col\\n<value>`` sections joined by
    blank lines, skipping semantic-null values (reference drops INVALID_VALS
    fields before building the user message, instructions_runners.py:42-61).
    """
    sections = []
    for col in cols:
        s = stringify(df, col)
        section = F.concat(F.lit(f"# {col}\n"), s)
        if drop_invalid:
            section = F.when(is_valid(F.col(col)), section)
        sections.append(section)
    # concat_ws skips NULL elements — exactly the drop-semantic-null behavior.
    return F.concat_ws("\n\n", *sections)


def sections_markdown(names_and_values: list[tuple[str, Column]]) -> Column:
    """instructions_to_md: render (name, response) pairs as a markdown report."""
    parts = [F.concat(F.lit(f"# {name}\n"), value) for name, value in names_and_values]
    return F.concat_ws("\n\n", *parts)
