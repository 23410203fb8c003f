"""``local_df``: bounded driver rows as an Arrow LocalRelation with exactly
the declared schema."""

from __future__ import annotations

import pytest

from fts_engine_spark.localdf import local_df


@pytest.mark.parametrize("row", [(1, 2, 3), (1,)])
def test_row_arity_must_match_schema(spark, row):
    """A row wider or narrower than the schema is a caller bug: it must
    raise, not silently drop or misalign columns."""
    with pytest.raises(ValueError, match="arity"):
        local_df(spark, [(7, 8), row], "a long, b long")
