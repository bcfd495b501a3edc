"""Skewed-key equi joins: the AQE runtime split and the explicit
salting fallback (SURVEY §2.3 J-family scale hardening).

The reference never joins at a scale where key skew matters (its
biggest join is a ~100-station dict lookup, e.g. the station-metadata
merge in ``outputs/extract_water_level.py``), but a 100 TB fact table
joined on a zipfian key concentrates one hash partition far above its
siblings — the single straggler task that stalls a 1000-executor
stage.  Two remedies, both expressed here so the engine demonstrates
them as first-class plans:

* **AQE skew split** (``skew=true`` on the join node): adaptive
  execution measures the map output at runtime and splits the
  oversized partition into sub-ranges, replicating the matching build
  side.  Zero query rewrite; needs
  ``spark.sql.adaptive.skewJoin.enabled`` (on by default) and a shuffle
  join to act on.  This is the default answer — declare the join,
  let the runtime re-plan.
* **Explicit salting** (``salted_equi_join``): when AQE can't help —
  a veto by a downstream partitioning requirement, an engine without
  AQE, or a key so hot one partition exceeds even the split budget —
  each fact row draws one of ``n_salts`` offsets and the dim side
  replicates each row across all of them.  The salt IS the target
  partition id: with ``N = max(spark.sql.shuffle.partitions,
  n_salts)`` partitions, a key's salts are ``(home(key) + s) mod N``
  for ``s`` in ``[0, n_salts)``, and both sides are shuffled with
  partition-id pass-through (``repartitionById``) on the salt.  So a
  key's rows spread over exactly ``n_salts`` distinct partitions by
  construction, at any partition count — a hash partitioner on
  ``(key, salt)`` would only spread them by chance.  Cost: dim side
  ×n_salts (fine for dims far smaller than the fact), and the join key
  loses its clustering for downstream reuse.

Both produce bit-identical results to the plain equi join; only the
physical distribution differs — which is the point.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType


def _compared_type(spark, fact_type: DataType, dim_type: DataType) -> DataType:
    """The type Spark's equality coerces both join keys to.

    Spark hashes equal values of different types differently (``int 5``
    and ``bigint 5`` do not hash alike), so the home partition must be
    computed on keys cast to one type, or matching rows are routed to
    different salts and silently dropped.  The wider common type the
    analyzer picks for ``coalesce`` is the one it casts both sides of
    ``=`` to."""
    if fact_type == dim_type:
        return fact_type
    probe = F.coalesce(F.lit(None).cast(fact_type), F.lit(None).cast(dim_type))
    try:
        return spark.range(0).select(probe).schema[0].dataType
    except AnalysisException as e:
        raise ValueError(
            f"join keys of types {fact_type.simpleString()} and "
            f"{dim_type.simpleString()} have no common type"
        ) from e


def salted_equi_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    n_salts: int = 8,
    salt_source: str | None = None,
) -> DataFrame:
    """Inner equi join where each fact key's rows are spread over
    exactly ``n_salts`` distinct shuffle partitions.

    Both sides shuffle into ``N = max(spark.sql.shuffle.partitions,
    n_salts)`` partitions.  A key's home partition is ``pmod(hash(key),
    N)``, with both keys cast to the type the equality compares them
    in; its salts are ``pmod(home + s, N)``, and the salt is the
    partition id the row is sent to (``repartitionById``), so no two
    salts of one key share a partition.  On the fact side ``s`` is
    ``pmod(seed, n_salts)``; ``salt_source`` names a fact column whose
    value seeds it (deterministic → reproducible plans and tests),
    default the row's ``xxhash64`` of all columns.  The dim side is
    exploded ×``n_salts`` (one row per ``s``) so every (key, salt)
    bucket finds its dim row.  The join on (key, salt) reuses the
    pass-through partitioning: one exchange per side.  Output columns
    = fact columns + dim columns minus the duplicate dim key.
    """
    if n_salts < 1:
        raise ValueError(f"n_salts must be >= 1, got {n_salts}")
    spark = fact.sparkSession
    n_parts = max(int(spark.conf.get("spark.sql.shuffle.partitions")), n_salts)
    key_type = _compared_type(
        spark, fact.schema[fact_key].dataType, dim.schema[dim_key].dataType
    )

    def salt(key, s):
        home = F.pmod(F.hash(key.cast(key_type)), F.lit(n_parts))
        return F.pmod(home + s, F.lit(n_parts)).cast("int")

    seed = F.col(salt_source) if salt_source else F.xxhash64(*fact.columns)
    # NULL seed → offset 0, NOT a NULL salt: pmod(NULL) is NULL and a
    # NULL salt never equals the dim side's, silently dropping the row
    # from an inner join the plain equi join would keep
    s = F.coalesce(F.pmod(seed.cast("long"), F.lit(n_salts)), F.lit(0))
    f = fact.withColumn("_salt", salt(fact[fact_key], s)).repartitionById(
        n_parts, "_salt"
    )
    d = (
        dim.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))))
        .withColumn("_salt", salt(F.col(dim_key), F.col("_salt")))
        .repartitionById(n_parts, "_salt")
    )
    joined = f.join(d, (f[fact_key] == d[dim_key]) & (f["_salt"] == d["_salt"]))
    keep = [f[c] for c in fact.columns]
    keep += [d[c] for c in dim.columns if c != dim_key]
    return joined.select(*keep)
