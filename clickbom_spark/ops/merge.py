"""Merge pipeline operators: filename filters, union, dedup, assembly.

- glob_to_regex / filename_filter ← P5 matches_pattern / P6 filter_files
  (lib/sbom-merging.sh:7-77): include-then-exclude semantics, empty
  include ⇒ all, exclude wins.
- exclude_output_key ← U3 self-exclusion (lib/sbom-merging.sh:122-124).
- union_components ← U1 fan-in (lib/sbom-merging.sh:344-345).
- dedup_components ← U2 ``unique_by(name@version#purl^source)`` with
  sentinel defaults (lib/sbom-merging.sh:358).
- assemble_merged_doc ← U4 template + splice (lib/sbom-merging.sh:282-319,
  365-372) with injectable serialNumber/timestamp for deterministic
  goldens (SURVEY §7.4).

Scale: dedup is a hash-shuffle on the 4-tuple key — the distributed
replacement for jq's in-memory unique_by; at 100 TB it is an
AQE-managed exchange, optionally salted if one (name,version) pair
dominates (it can't: the key includes purl+source).
"""

from __future__ import annotations

import re
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from clickbom_spark.ops.components import DEFAULT_UNKNOWN

DEDUP_KEY = ["name", "version", "purl", "source"]


def glob_to_regex(pattern: str) -> str:
    """Translate one bash glob (``*``, ``?``) to an anchored regex (P5)."""
    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return "^" + "".join(out) + "$"


def _pattern_pred(col, patterns: str):
    """OR-fold of comma-separated glob patterns against a column."""
    pats = [p.strip() for p in patterns.split(",") if p.strip()]
    if not pats:
        return None
    pred = F.lit(False)
    for p in pats:
        pred = pred | col.rlike(glob_to_regex(p))
    return pred


def filename_filter(
    df: DataFrame,
    include: str = "",
    exclude: str = "",
    filename_col: str = "filename",
) -> DataFrame:
    """P6 filter_files: include-then-exclude on basenames.

    Empty include ⇒ everything included; exclude always wins
    (lib/sbom-merging.sh:32-77, README.md:104).  Matching is on the
    file's basename, like the reference's ``[[ $(basename) == $glob ]]``.
    """
    base = F.regexp_extract(F.col(filename_col), r"([^/]+)$", 1)
    inc = _pattern_pred(base, include)
    if inc is not None:
        df = df.where(inc)
    exc = _pattern_pred(base, exclude)
    if exc is not None:
        df = df.where(~exc)
    return df


def exclude_output_key(df: DataFrame, output_key: str, filename_col: str = "filename") -> DataFrame:
    """U3: never read the file we are writing (lib/sbom-merging.sh:122-124)."""
    base = F.regexp_extract(F.col(filename_col), r"([^/]+)$", 1)
    out_base = output_key.rsplit("/", 1)[-1]
    return df.where(base != F.lit(out_base))


def cyclonedx_gate(df: DataFrame) -> DataFrame:
    """S10 format gate: keep only CycloneDX docs in the merge path
    (lib/sbom-merging.sh:217-224; non-CycloneDX files are skipped)."""
    return df.where(
        (F.col("bomFormat") == "CycloneDX") | F.col("metadata.component").isNotNull()
    )


def union_components(dfs: list[DataFrame]) -> DataFrame:
    """U1 fan-in. ``unionByName`` so column order never matters."""
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)


def dedup_key_cols(df: DataFrame) -> DataFrame:
    """Apply the sentinel defaults of the U2 dedup key:
    name/version/source → 'unknown', purl → '' (lib/sbom-merging.sh:358)."""
    return (
        df.withColumn("name", F.coalesce(F.col("name"), F.lit(DEFAULT_UNKNOWN)))
        .withColumn("version", F.coalesce(F.col("version"), F.lit(DEFAULT_UNKNOWN)))
        .withColumn("purl", F.coalesce(F.col("purl"), F.lit("")))
        .withColumn("source", F.coalesce(F.col("source"), F.lit(DEFAULT_UNKNOWN)))
    )


def dedup_components(df: DataFrame) -> DataFrame:
    """U2: one row per (name, version, purl, source).

    Same-key duplicates of the 4-tuple collapse; the same component
    seen from two sources survives twice (source preservation —
    lib/sbom-merging.sh:356-363).

    The kept row is the canonically-smallest full row per key
    (row_number over a to_json ordering), so output is stable even
    when duplicate keys carry different payloads.
    """
    df = dedup_key_cols(df)
    w = Window.partitionBy(*DEDUP_KEY).orderBy(F.to_json(F.struct(*df.columns)))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def assemble_merged_doc(
    components: DataFrame,
    serial_number: str | None = None,
    timestamp: str | None = None,
) -> DataFrame:
    """U4: one merged CycloneDX document from deduped components.

    Returns a single-row DataFrame with the reference's merge template
    (lib/sbom-merging.sh:282-304): bomFormat CycloneDX / specVersion
    1.6 / tools=[ClickBOM cyclonedx-merge 1.0.10] / component
    merged-sbom, components sorted by the dedup key for determinism
    (jq's unique_by sorts as a side effect).

    serialNumber/timestamp are injectable for golden tests; defaults
    generate fresh values (F14: uuid + current time).
    """
    sn = F.lit(serial_number) if serial_number else F.concat(F.lit("urn:uuid:"), F.expr("uuid()"))
    ts = (
        F.lit(timestamp)
        if timestamp
        else F.date_format(
            F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss'Z'"
        )
    )
    # Collect with the dedup key leading the struct so array_sort's
    # field-order comparison IS the key order; sorting AFTER the
    # aggregation is required for determinism — Spark does not guarantee
    # collect_list preserves input order through the final agg merge.
    key_struct = F.struct(
        F.col("name"), F.col("version"), F.col("purl"), F.col("source"), F.col("license")
    )
    out_struct = lambda c: F.struct(  # noqa: E731
        c.getField("name").alias("name"),
        c.getField("version").alias("version"),
        c.getField("license").alias("license"),
        c.getField("source").alias("source"),
        c.getField("purl").alias("purl"),
    )
    return (
        components.agg(
            F.transform(F.array_sort(F.collect_list(key_struct)), out_struct).alias(
                "components"
            )
        )
        .select(
            F.lit("CycloneDX").alias("bomFormat"),
            F.lit("1.6").alias("specVersion"),
            sn.alias("serialNumber"),
            F.lit(1).alias("version"),
            F.struct(
                ts.alias("timestamp"),
                F.array(
                    F.struct(
                        F.lit("ClickBOM").alias("vendor"),
                        F.lit("cyclonedx-merge").alias("name"),
                        F.lit("1.0.10").alias("version"),
                    )
                ).alias("tools"),
                F.struct(
                    F.lit("application").alias("type"),
                    F.lit("merged-sbom").alias("name"),
                    F.lit("1.0.0").alias("version"),
                ).alias("component"),
            ).alias("metadata"),
            F.col("components"),
        )
    )


def derive_table_name(key: str, merged: bool = False) -> str:
    """K5 table-name derivation (entrypoint.sh:469, 547-557):
    non-alphanumerics → ``_``, lowercased, ``_merged`` suffix in merge
    mode."""
    name = re.sub(r"[^a-zA-Z0-9]", "_", key).lower()
    if merged:
        name += "_merged"
    return name
