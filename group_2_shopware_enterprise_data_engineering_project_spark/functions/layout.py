"""Z-order (Morton-curve) data layout for multi-dimensional scan
pruning — the role Delta's OPTIMIZE ZORDER / Iceberg's sort orders
play, done with plain Spark writes.

Parquet scans prune at file/row-group granularity from column min-max
footers. A single-column sort clusters ONE predicate dimension —
queries on any other dimension read the whole table. Interleaving the
bits of min-max-normalized dimension values (the Morton code) makes
every file a small box in N-dim space, so range predicates on EITHER
clustered column (or both) skip most files. The measured trade
(tests/test_layout.py, on real footer stats): the dedicated
single-dim sort prunes its own dimension sharper, but Z-order prunes
BOTH to <=half the files — the right default when the query mix
filters on more than one column.

Everything is native column expressions: one min/max aggregate per
write (driver-side scalars), bit-twiddling in codegen, then
repartitionByRange + sortWithinPartitions on the code. Tests prove
the pruning with actual parquet footer statistics, not a claim.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: bits per dimension in the interleave (16 -> 2 dims fit a 32-bit code)
BITS = 16


def _normalize(col: Column, lo: float, hi: float) -> Column:
    """Map a numeric column onto [0, 2^BITS) by min-max scaling.
    Rank-normalization via ntile would resist skew better but costs a
    global sort; min-max is the one-aggregate approximation and is
    what the pruning test measures."""
    span = (hi - lo) or 1.0
    scaled = (col.cast("double") - F.lit(float(lo))) / F.lit(float(span))
    return F.least(
        F.greatest((scaled * F.lit((1 << BITS) - 1)).cast("long"), F.lit(0)),
        F.lit((1 << BITS) - 1),
    )


def morton_code(a: Column, b: Column, bits: int = BITS) -> Column:
    """Interleave ``bits`` bits of two ``bits``-bit integers: bit i of
    `a` lands at position 2i, bit i of `b` at 2i+1. Pure shift/and/or
    expressions — whole-stage codegen, no UDF. The single Morton
    implementation in the repo: `operators/zorder.py` (layout stats /
    SQL mirror) delegates here."""
    code = F.lit(0).cast("long")
    for i in range(bits):
        code = code.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return code


def zorder_write(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int,
) -> None:
    """Write df as ~n_files parquet files clustered along the Morton
    curve of (col_a, col_b). Timestamp/date columns are handled via
    their epoch values. One extra aggregate (4 scalars) + one range
    shuffle over the data — the layout cost is a single rewrite, paid
    once, amortized over every pruned scan after it."""
    from pyspark.sql import types as T

    for c in (col_a, col_b):
        dt = df.schema[c].dataType
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
            df = df.withColumn(
                f"_z_{c}", F.unix_timestamp(F.col(c).cast("timestamp")).cast("double")
            )
        else:
            df = df.withColumn(f"_z_{c}", F.col(c).cast("double"))
    stats = df.agg(
        F.min(f"_z_{col_a}"), F.max(f"_z_{col_a}"),
        F.min(f"_z_{col_b}"), F.max(f"_z_{col_b}"),
    ).first()
    code = morton_code(
        _normalize(F.col(f"_z_{col_a}"), stats[0], stats[1]),
        _normalize(F.col(f"_z_{col_b}"), stats[2], stats[3]),
    )
    (
        df.withColumn("_zcode", code)
        .repartitionByRange(n_files, "_zcode")
        .sortWithinPartitions("_zcode")
        .drop("_zcode", f"_z_{col_a}", f"_z_{col_b}")
        .write.mode("overwrite")
        .parquet(path)
    )


def linear_write(df: DataFrame, path: str, col_a: str, n_files: int) -> None:
    """Single-dimension sort layout (the baseline Z-order beats on
    multi-dimensional predicates)."""
    (
        df.repartitionByRange(n_files, col_a)
        .sortWithinPartitions(col_a)
        .write.mode("overwrite")
        .parquet(path)
    )


# --- zone maps: file-level min/max index + manual data skipping ------------


def collect_file_stats(path: str, cols: list[str]):
    """Build a zone map: per parquet file, (path, n_rows, min, max)
    for each indexed column — the Delta/Iceberg file-statistics idea
    over a plain parquet directory. Footer reads are metadata-only
    (no data pages); here they run driver-side over the file list,
    which is O(files) — on a cluster, distribute the same loop with
    `spark.read.format("binaryFile")` + mapInPandas over paths.

    Returns {file_path: {col: (min, max), "_rows": n}}.
    """
    import glob as _glob
    import os as _os

    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    for f in sorted(_glob.glob(_os.path.join(path, "*.parquet"))):
        md = pq.ParquetFile(f).metadata
        entry: dict = {"_rows": md.num_rows}
        names = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for c in cols:
            ci = names[c]
            lo = hi = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    lo, hi = None, None
                    break
                lo = st.min if lo is None or st.min < lo else lo
                hi = st.max if hi is None or st.max > hi else hi
            entry[c] = (lo, hi)
        out[f] = entry
    return out


def prune_files(stats: dict, bounds: dict) -> list[str]:
    """Select the files whose zone-map ranges intersect every
    ``bounds[col] = (lo, hi)`` predicate. A file with missing stats
    for a bounded column is KEPT (pruning must never drop rows —
    missing metadata means "can't prove it's absent")."""
    keep = []
    for f, entry in stats.items():
        ok = True
        for c, (lo, hi) in bounds.items():
            fmin, fmax = entry.get(c, (None, None))
            if fmin is None or fmax is None:
                continue  # unknown -> keep
            if fmax < lo or fmin > hi:
                ok = False
                break
        if ok:
            keep.append(f)
    return keep


def read_pruned(spark, path: str, cols: list[str], bounds: dict):
    """Zone-map-pruned scan: consult the file index, hand Spark ONLY
    the intersecting files, and re-apply the predicate exactly (the
    zone map is a superset filter). With a Z-ordered layout both
    dimensions prune; with a linear sort only the leading one does —
    `tests/test_layout.py` measures exactly that difference.

    Returns (DataFrame, n_files_selected, n_files_total)."""
    stats = collect_file_stats(path, cols)
    files = prune_files(stats, bounds)
    if not files:
        # empty selection: preserve schema via a zero-row slice
        return spark.read.parquet(path).limit(0), 0, len(stats)
    df = spark.read.parquet(*files)
    for c, (lo, hi) in bounds.items():
        df = df.filter((F.col(c) >= lo) & (F.col(c) <= hi))
    return df, len(files), len(stats)


# --- per-file Bloom index: point-lookup data skipping ----------------------
#
# Zone maps skip files by VALUE RANGE — useless for an equality probe
# on a high-cardinality key whose range spans every file (ids, hashes).
# The per-file Bloom filter is the standard complement (Parquet column
# bloom filters / Delta bloom indexes): k md5-derived bit positions
# per distinct (file, value); a file can be skipped when any probe
# position is absent. No false negatives by construction — a file
# containing the value always has all its positions set.

BLOOM_M_BITS = 1 << 16
BLOOM_K = 5


def _bloom_pos_cols(value_col):
    """Kirsch-Mitzenmacher double hashing on md5 hex (mirrored exactly
    by `_bloom_positions_py` — md5 is the one hash both Spark and the
    Python prober share bit-for-bit)."""

    def h(salt: str):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(salt), value_col.cast("string"))), 1, 15
                ),
                16,
                10,
            ).cast("long")
            % BLOOM_M_BITS
        )

    h1, h2 = h("b1:"), h("b2:")
    return F.array(
        *[
            F.pmod(h1 + F.lit(j) * h2, F.lit(BLOOM_M_BITS))
            for j in range(1, BLOOM_K + 1)
        ]
    )


def _bloom_positions_py(value: str) -> list[int]:
    import hashlib

    m = BLOOM_M_BITS
    h1 = int(hashlib.md5(f"b1:{value}".encode()).hexdigest()[:15], 16) % m
    h2 = int(hashlib.md5(f"b2:{value}".encode()).hexdigest()[:15], 16) % m
    return [(h1 + j * h2) % m for j in range(1, BLOOM_K + 1)]


def build_bloom_index(spark, path: str, col: str):
    """{file -> set(bit positions)} for every distinct value per file.
    One distinct + explode over the scan; per-file state is bounded by
    BLOOM_M_BITS regardless of cardinality. At warehouse scale the position
    sets persist as a parquet bitmap index next to the data — the
    in-memory dict is the local-mode materialization of the same
    thing."""
    df = (
        spark.read.parquet(path)
        .select(
            F.input_file_name().alias("f"),
            F.col(col).cast("string").alias("v"),
        )
        .where(F.col("v").isNotNull())
        .distinct()
    )
    pos = df.select(
        "f", F.explode(_bloom_pos_cols(F.col("v"))).alias("p")
    ).distinct()
    rows = pos.groupBy("f").agg(F.collect_set("p").alias("ps")).collect()
    return {r["f"]: frozenset(int(p) for p in r["ps"]) for r in rows}


def prune_files_bloom(index: dict, value) -> list[str]:
    """Files that MAY contain `value` (equality probe). Never excludes
    a file that does contain it."""
    probe = _bloom_positions_py(str(value))
    return [f for f, ps in sorted(index.items()) if all(p in ps for p in probe)]
