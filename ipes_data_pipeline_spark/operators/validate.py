"""Declarative record validation with quarantine + observed metrics
(replacing per-row Pydantic try/except, reference
``code/structure_data.py:263-309``).

Constraints are column expressions → one `is_valid` flag; invalid rows
are *quarantined*, not dropped-with-a-print; the valid and invalid
counts come from one ``DataFrame.observe`` below the valid/quarantine
split, so the caller's write of ``valid`` collects both as a side
effect. Error samples cost one more action, only when there are
invalid rows.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


@dataclass
class ValidationResult:
    valid: DataFrame
    quarantine: DataFrame  # original columns + violated_constraints array
    #: valid_records / invalid_records; .get after an action on `valid`
    observation: Observation

    #: names of all declared constraints, in order
    constraint_names: list[str] = field(default_factory=list)


def company_constraints() -> dict[str, Column]:
    """Company-dim constraints (mirrors the Pydantic contract
    schemas.py:20-29). A function, not a constant: Columns need an
    active session."""
    return {
        "id_not_null": F.col("id").isNotNull() & (F.length("id") > 0),
        "entity_name_not_null": F.col("entity_name").isNotNull()
        & (F.length(F.trim("entity_name")) > 0),
        "filing_count_nonneg": F.col("filing_count") >= 0,
        "entity_type_enum": F.col("entity_type").isin("Company", "Individual"),
    }


def validate(
    df: DataFrame, constraints: dict[str, Column], name: str = "validation"
) -> ValidationResult:
    # NULL-safe: a constraint evaluating to NULL (e.g. `col >= 0` on a
    # NULL value) is a VIOLATION, not a pass — bare `~NULL` is NULL and
    # F.when would silently classify the row valid, letting NULLs flow
    # into columns the schema contract declares non-nullable
    violated = F.filter(
        F.array(
            *[
                F.when(~F.coalesce(cond, F.lit(False)), F.lit(cname)).otherwise(
                    F.lit(None)
                )
                for cname, cond in constraints.items()
            ]
        ),
        lambda x: x.isNotNull(),
    )
    flagged = df.withColumn("violated_constraints", violated)
    is_valid = F.size("violated_constraints") == 0
    obs = Observation(name)
    # the counts sit BELOW the `valid` filter (CollectMetrics is not a
    # pushdown target), so they see every row, invalid ones included
    observed = flagged.observe(
        obs,
        F.count_if(is_valid).alias("valid_records"),
        F.count_if(~is_valid).alias("invalid_records"),
    )
    valid = observed.filter(is_valid).drop("violated_constraints")
    quarantine = flagged.filter(~is_valid)
    return ValidationResult(
        valid, quarantine, obs, constraint_names=list(constraints)
    )


def _observed(obs: Observation) -> bool:
    """True once an action has filled ``obs``: ``Observation.get``
    would block forever on a frame no action touches. Spark fills it
    from a listener just after the action returns, so a false here
    right after an action only costs one redundant count."""
    return obs._jo is not None and obs._jo.future().isCompleted()


def validation_report(
    result: ValidationResult,
    sample_errors: int = 5,
    sample_col: str = "entity_name",
) -> dict:
    """Metrics dict matching the reference's validation_stats record
    (timestamp added by the telemetry sink). ``sample_col`` names the
    column shown in error samples — validate() takes arbitrary
    constraint sets, so the report must not assume the company schema.

    The counts are the Observation's: in the pipeline path the caller's
    write of ``valid`` has already filled it and no action runs for
    them; otherwise one action on ``valid`` fills it. Error samples
    cost one action on ``quarantine``, and only when
    ``invalid_records > 0``.
    """
    if not _observed(result.observation):
        result.valid.count()
    counts = result.observation.get
    n_valid, n_invalid = counts["valid_records"], counts["invalid_records"]
    samples = []
    if n_invalid > 0:
        quarantined = result.quarantine.select(
            F.col(sample_col).alias("name"),
            F.array_join("violated_constraints", ", ").alias("error"),
        )
        samples = [
            r.asDict() for r in quarantined.limit(sample_errors).collect()
        ]
    return {
        "total_processed": n_valid + n_invalid,
        "valid_records": n_valid,
        "invalid_records": n_invalid,
        "error_samples": samples,
    }
