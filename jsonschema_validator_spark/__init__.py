"""PySpark-native schema + constraint validation engine.

A brand-new engine (NOT a port) with the validation capabilities of the Go
library ``songzhibin97/jsonschema-validator`` (reference at /root/reference),
re-expressed as vectorized DataFrame predicates for tables at 10^12-row scale.

Layers
------
- ``spec`` / ``compiler``: declarative schema spec -> compiled plan of Column
  predicates (mirrors schema.Parse/Compile, /root/reference/schema/schema.go:36-297).
- ``engine``: one-pass evaluation -> per-partition verdicts + violation rows
  ``(path, message, value, tag, param)`` matching the reference's
  ValidationError shape (/root/reference/errors/errors.go:24-39).
- ``operators``: table-level checks the north rule adds on top of the
  reference: column stats, uniqueness, referential integrity,
  distribution drift (KS/PSI/JS/EMD), dedup, similarity search, text analysis,
  multimodal payload checks.
- ``sources``: table IO + snapshot/manifest checkpointing + deterministic
  synthetic image-caption data.
"""

from jsonschema_validator_spark.spec import (
    Spec,
    SpecError,
    ValidationMode,
    parse_tag,
    spec_from_schema,
    spec_from_tags,
)
from jsonschema_validator_spark.engine import Validator, ValidationResult

__all__ = [
    "Spec",
    "parse_tag",
    "spec_from_tags",
    "spec_from_schema",
    "SpecError",
    "ValidationMode",
    "Validator",
    "ValidationResult",
]

__version__ = "0.1.0"
