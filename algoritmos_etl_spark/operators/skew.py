"""Skew mitigation: heavy-hitter detection and salted joins.

At 100 TB a handful of hot keys (one viral document, one dominant
symbol, a null-heavy foreign key) can pin a whole stage on one task.
Three mitigation layers, in preference order:

1. AQE skew-join splitting (`spark.sql.adaptive.skewJoin.enabled`,
   on by default in session.py) — handles sort-merge join skew at
   runtime, zero code. First choice.
2. Broadcast the small side — no shuffle of the big side at all
   (relational.py does this for every dimension join).
3. **Salting** (this module) — when the skewed side must shuffle anyway
   (aggregation-heavy plans, huge-side joins AQE can't split well):
   append a deterministic salt to the big side's key, replicate the
   small side across all salts, join on (key, salt). Hot keys spread
   over `n_salts` tasks; output is bit-identical to the unsalted join
   (pinned by the oracle-checked `skew_salted_join` driver query).

Salts are deterministic (hash of the row's own key tuple), never
`rand()` — retries and speculative tasks must land rows in the same
partition or results become non-reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    n_salts: int = 16,
) -> DataFrame:
    """Inner equi-join with the big side salted and the small side
    replicated.

    big rows get `_salt = pmod(hash(<every big-side column>), n_salts)`
    — deterministic per row; small rows are
    exploded across all salts, so each big row still meets each matching
    small row exactly once. A key with 40% of the rows now spreads over
    `n_salts` shuffle partitions instead of one.

    Cost model: replicates the SMALL side n_salts×. Use when the small
    side is too big to broadcast but far smaller than the skewed side.
    """
    salt_by = F.hash(*[F.col(c) for c in big.columns])
    salted_big = big.withColumn("_salt", F.pmod(salt_by, F.lit(n_salts)))
    replicated_small = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(s) for s in range(n_salts)]))
    )
    return salted_big.join(replicated_small, [on, "_salt"]).drop("_salt")
