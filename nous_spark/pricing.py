"""Usage cost accounting (F7) — the batch analog of the reference's
write-time pricing (apps/api/app/features/usage/pricing.py:16-40 and
usage/models.py:52-54: ``cost_usd NUMERIC(18,8)`` stored per event so
history stays stable when rates change).

Semantics mirrored:
  * cost = prompt_tokens/1M * prompt_rate + completion_tokens/1M *
    completion_rate (chat), or total_tokens/1M * rate (embedding);
  * cost is computed AT WRITE TIME and persisted with the event/metric
    row (never re-derived from live rates);
  * Decimal(18,8) arithmetic end-to-end — no float in the money path.

Engine notes: per-token rates are pre-divided in PYTHON ``Decimal``
(exact), so the Spark plan contains only decimal multiplication and
addition — exact at scale 8, and byte-identical to DuckDB's decimal
math (no engine-specific division-scale rules in play).
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession

# per-1M-token USD rates by operation (the reference reads these from
# model settings; fixed table here — rates chosen to be exact at 8 dp
# per token: rate/1e6 has <= 8 decimal places)
PRICING_PER_1M: dict[str, tuple[Decimal, Decimal]] = {
    # operation: (prompt_per_1m, completion_per_1m)
    "extract": (Decimal("0.25"), Decimal("1.25")),  # LLM chat analog (G1)
    "summarize": (Decimal("0.25"), Decimal("1.25")),  # G3
    "embed": (Decimal("0.02"), Decimal("0")),  # embedding: total tokens only
}

_M = Decimal(1_000_000)


def per_token_rates(operation: str) -> tuple[Decimal, Decimal]:
    """Exact per-token Decimal rates for an operation."""
    p, c = PRICING_PER_1M[operation]
    return p / _M, c / _M


def cost_usd(
    operation: str,
    prompt_tokens: int | None,
    completion_tokens: int | None = None,
) -> Decimal | None:
    """Driver-side scalar form (same None contract as the reference:
    both-None -> None)."""
    if prompt_tokens is None and completion_tokens is None:
        return None
    pr, cr = per_token_rates(operation)
    cost = Decimal("0")
    if prompt_tokens is not None:
        cost += Decimal(prompt_tokens) * pr
    if completion_tokens is not None:
        cost += Decimal(completion_tokens) * cr
    return cost.quantize(Decimal("0.00000001"))


def pricing_dim(spark: SparkSession) -> DataFrame:
    """The pricing table as a (tiny, broadcastable) dimension —
    (operation, prompt_per_token, completion_per_token), DECIMAL(18,12)
    so the per-token rates stay exact."""
    rows = [
        (op, *(r for r in per_token_rates(op))) for op in sorted(PRICING_PER_1M)
    ]
    return spark.createDataFrame(
        rows,
        "operation string, prompt_per_token decimal(18,12), "
        "completion_per_token decimal(18,12)",
    )
