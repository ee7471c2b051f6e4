"""Composed oracles are resolved by the registry, from plain oracles only.

``registry._compose`` runs on a throwaway table here, so no key is added to
the live registry.
"""

from __future__ import annotations

import pytest

from presto_weather_spark.registry import _compose

BASE = "SELECT doc_id FROM documents"


def test_composed_oracle_wraps_the_base_text():
    oracles = {
        "base": BASE,
        "rows_only": None,
        "wrap": lambda o: f"WITH b AS ({o['base']}) SELECT count(*) FROM b",
    }
    assert _compose(oracles) == {"wrap": f"WITH b AS ({BASE}) SELECT count(*) FROM b"}


@pytest.mark.parametrize(
    ("dep", "kind"),
    [("missing", "an unknown"), ("other", "a composed"), ("rows_only", "a rows-only")],
)
def test_composed_oracle_must_read_a_plain_oracle(dep, kind):
    oracles = {
        "rows_only": None,
        "other": lambda o: BASE,
        "wrap": lambda o: f"WITH b AS ({o[dep]}) SELECT * FROM b",
    }
    with pytest.raises(ValueError, match=f"wrap: composed oracle reads {kind} key '{dep}'"):
        _compose(oracles)
