"""Set operations — §2.F of SURVEY.md. Thin wrappers kept for
operator-inventory parity; the Spark builtins are already optimal."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def union_concat(*dfs: DataFrame) -> DataFrame:
    """``pd.concat`` by column name (reference
    ``make_similarity_data.py:47``; ``make_click_train_data.py:31,46``)."""
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df, allowMissingColumns=False)
    return out


def set_intersection_tokens(tokens: Column | str, keywords: Column) -> Column:
    """``set(tokens) & keywords`` per row (reference
    ``find_item_keyword_by_matching.py:38``)."""
    t = F.col(tokens) if isinstance(tokens, str) else tokens
    return F.array_intersect(F.array_distinct(t), keywords)


def set_difference_items(all_items: Column | str, group_items: Column | str) -> Column:
    """``all_items − set(group_items)`` (reference
    ``make_similarity_data.py:58-62``)."""
    a = F.col(all_items) if isinstance(all_items, str) else all_items
    g = F.col(group_items) if isinstance(group_items, str) else group_items
    return F.array_except(a, g)

