"""Exhaustive reference-test accounting.

Lists every @Test in the reference's Kotlin suites and maps each to
one of:
  ported  — a pytest in tests/ ports the case (auto-detected when the
            pytest cites the reference test name in backticks and the
            name is unique across reference files; explicit otherwise)
  covered — the behavior is verified by an existing pytest / registry
            query under a different name (cited)
  n/a     — outside the engine's declared scope (codegen, Jupyter/REPL,
            Kotlin-binding introspection), with a rationale

The list of reference tests comes from the Kotlin checkout at REF_TESTS
when it is present, and from the committed inventory
tools/reference_tests.json (the same (file, name) pairs in extraction
order) otherwise. With neither, extraction raises.

Usage:  python tools/parity_matrix.py          # rewrite PARITY.md (and the
                                               # inventory, from a checkout)
        python tools/parity_matrix.py --check  # exit 1 on drift/gaps

tests/test_parity_matrix.py calls build_matrix()/render() and compares
the result with PARITY.md, so a new reference test (or a deleted pytest
citation) fails CI until it is accounted for.
tests/test_reference_inventory.py checks the committed inventory against
the checkout wherever the checkout exists.
"""

from __future__ import annotations

import collections
import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REF_TESTS = "/root/reference/src/test/kotlin/org/jetbrains/dataframe"
INVENTORY = os.path.join(REPO, "tools", "reference_tests.json")

# ---------------------------------------------------------------------------
# Curated dispositions: (reference file, test name) -> (status, where/why).
# Everything NOT listed here must be auto-detectable via a unique backtick
# citation in tests/*.py, or the generator errors out.
# ---------------------------------------------------------------------------

NA_CODEGEN = ("n/a", "Kotlin compile-time codegen — declared non-goal (SURVEY §2.10)")
NA_JUPYTER = ("n/a", "Jupyter/REPL integration — declared non-goal (SURVEY §1.4)")
NA_BINDING = (
    "n/a",
    "Kotlin binding surface (typed accessors/column references/reflection) "
    "with no relational behavior — the values it reads are asserted elsewhere",
)

DISPOSITIONS: dict[tuple[str, str], tuple[str, str]] = {
    # --- AnimalsTests ---
    ("AnimalsTests.kt", "ignore nans"): (
        "covered", "tests/test_grouped.py::test_mean_skipna_true_matches_reference (3.4375 literal)"),
    ("AnimalsTests.kt", "mean"): (
        "covered", "tests/test_frame_core.py::test_describe + test_frame_surface2.py::test_transpose_row"),
    # --- GatherTests ---
    ("GatherTests.kt", "gather"): (
        "covered", "tests/test_reference_parity.py::test_gather_groups_reference_case (same JSON fixture shape)"),
    ("GatherTests.kt", "generated code is fully typed"): NA_CODEGEN,
    # --- MoveTests ---
    ("MoveTests.kt", "batchGrouping"): ("ported", "tests/test_move.py::test_batch_grouping"),
    ("MoveTests.kt", "batchUngrouping"): ("ported", "tests/test_move.py::test_batch_ungrouping"),
    ("MoveTests.kt", "select all"): (
        "covered", "tests/test_selector_rowexpr.py::test_name_selectors (top-level selection)"),
    ("MoveTests.kt", "select all dfs"): (
        "covered", "tests/test_selector_rowexpr.py::test_dfs_recursive_paths (leaf paths incl. nested)"),
    ("MoveTests.kt", "ungroup one"): (
        "covered", "tests/test_frame_core.py::test_group_ungroup_flatten + test_move.py::test_batch_ungrouping"),
    ("MoveTests.kt", "selectDfs"): (
        "covered", "tests/test_selector_rowexpr.py::test_dfs_recursive_paths (predicate dfs under a group)"),
    ("MoveTests.kt", "columnsWithPath in selector"): (
        "n/a", "ColumnWithPath introspection objects are a Kotlin selector-DSL detail; "
               "the equivalent path selection is tests/test_selector_rowexpr.py::test_dfs_recursive_paths"),
    # --- Performance / benchmarks (reference tests are @Ignore print-only) ---
    ("PerformanceTests.kt", "compare filter"): (
        "covered", "bench.py filter_predicates + filter_1m50_micro (measured, BENCH_r*.json; reference test is @Ignore)"),
    ("benchmarks/FilterTests.kt", "slow"): (
        "covered", "bench.py filter_1m50_micro (reference test is @Ignore print-only, BASELINE.md)"),
    ("benchmarks/FilterTests.kt", "fast"): (
        "covered", "bench.py filter_1m50_micro + registry filter_predicates/filterFast (native path)"),
    # --- root PivotTests ---
    ("PivotTests.kt", "simple pivot"): (
        "covered", "tests/test_grouped.py::test_pivot_counts_with_defaults + test_pivot_sum (values + missing->null)"),
    # --- root ReadTests (JSON shape normalization) ---
    ("ReadTests.kt", "parseJson1"): (
        "covered", "tests/test_sources.py::test_read_json_str (mixed-type value widening)"),
    ("ReadTests.kt", "parseJson2"): (
        "covered", "tests/test_sources.py::test_json_heterogeneous_value_and_array_split (value/array normalization)"),
    ("ReadTests.kt", "parseJson3"): (
        "covered", "tests/test_sources.py::test_read_json_str_array_and_object (missing list -> empty)"),
    ("ReadTests.kt", "parseJson4"): (
        "covered", "tests/test_realdata_parity.py::test_ghost_json_reads_nested (array-of-object columns)"),
    # --- SeriesTests ---
    ("SeriesTests.kt", "diff test"): (
        "ported", "tests/test_window_ops.py::test_diff (weather fixture, reference literals)"),
    ("SeriesTests.kt", "movingAverage"): (
        "ported", "tests/test_window_ops.py::test_moving_average"),
    # --- TypeProjection/Util (Kotlin type-system internals) ---
    ("TypeProjectionTests.kt", "test"): NA_BINDING,
    ("TypeProjectionTests.kt", "collection to list projection"): NA_BINDING,
    ("TypeProjectionTests.kt", "column group projections"): NA_BINDING,
    ("UtilTests.kt", "commonParentsTests"): (
        "covered", "type-widening lattice analog: tests/test_frame_core.py::test_union_type_widening_int_double "
                   "+ test_reference_parity.py::test_union_widen_two_decimals_stays_decimal"),
    ("UtilTests.kt", "commonParentTests"): (
        "covered", "same widening lattice — tests/test_property.py::test_union_widening_never_loses_values"),
    # --- BasicMathTests ---
    ("aggregation/BasicMathTests.kt", "type for column with mixed numbers"): (
        "covered", "tests/test_frame_core.py::test_union_type_widening_int_double (Int+Double -> widened numeric)"),
    ("aggregation/BasicMathTests.kt", "mean with nans and nulls"): (
        "covered", "tests/test_grouped.py::test_mean_skipna_true_matches_reference + test_mean_skipna_false_nan_poisons"),
    # --- codegen / jupyter: non-goals ---
    ("internal/codeGen/CodeGenerationTests.kt", "generate marker interface"): NA_CODEGEN,
    ("internal/codeGen/CodeGenerationTests.kt", "generate marker interface for row"): NA_CODEGEN,
    ("internal/codeGen/CodeGenerationTests.kt", "generate marker interface for nested data frame"): NA_CODEGEN,
    ("internal/codeGen/CodeGenerationTests.kt", "generate extension properties"): NA_CODEGEN,
    ("internal/codeGen/CodeGenerationTests.kt", "frame to markers"): NA_CODEGEN,
    ("internal/codeGen/CodeGenerationTests.kt", "generate derived interface"): NA_CODEGEN,
    ("internal/codeGen/CodeGenerationTests.kt", "empty interface with properties"): NA_CODEGEN,
    ("internal/codeGen/CodeGenerationTests.kt", "interface with fields"): NA_CODEGEN,
    ("internal/codeGen/CodeGenerationTests.kt", "column starts with number"): NA_CODEGEN,
    ("internal/codeGen/CodeGenerationTests.kt", "patterns"): NA_CODEGEN,
    ("internal/codeGen/MatchSchemeTests.kt", "marker is reused"): NA_CODEGEN,
    ("internal/codeGen/MatchSchemeTests.kt", "marker is implemented"): NA_CODEGEN,
    ("internal/codeGen/MatchSchemeTests.kt", "printSchema"): NA_CODEGEN,
    ("internal/codeGen/NameGenerationTests.kt", "interface generation"): NA_CODEGEN,
    ("internal/codeGen/NameGenerationTests.kt", "properties generation"): NA_CODEGEN,
    ("internal/codeGen/ReplCodeGenTests.kt", "process derived markers"): NA_CODEGEN,
    ("internal/codeGen/ReplCodeGenTests.kt", "process markers union"): NA_CODEGEN,
    ("internal/codeGen/ReplCodeGenTests.kt", "process wrong marker inheritance"): NA_CODEGEN,
    ("jupyter/JupyterCodegenTests.kt", "codegen for enumerated frames"): NA_JUPYTER,
    ("jupyter/RenderingTests.kt", "dataframe is rendered to html"): NA_JUPYTER,
    ("jupyter/RenderingTests.kt", "rendering options"): NA_JUPYTER,
    ("jupyter/RenderingTests.kt", "htmlTagsAreEscaped"): NA_JUPYTER,
    # --- io/CsvTests ---
    ("io/CsvTests.kt", "readNulls"): ("ported", "tests/test_sources.py::test_read_delim_str_nulls"),
    ("io/CsvTests.kt", "write"): ("ported", "tests/test_sources.py::test_csv_roundtrip (+ quote options)"),
    ("io/CsvTests.kt", "readCSV"): (
        "covered", "tests/test_sources.py::test_csv_duplicate_headers_deduped + test_csv_type_inference_cascade"),
    # --- io/ParserTests ---
    ("io/ParserTests.kt", "parse should throw"): (
        "ported", "tests/test_sources.py (ParserTests port) + test_frame_surface2.py::test_parse_strict_raises_on_unparseable"),
    ("io/ParserTests.kt", "converter should throw"): (
        "covered", "tests/test_frame_surface2.py::test_parse_strict_raises_on_unparseable (strict cast raises)"),
    ("io/ParserTests.kt", "converter for mixed column should throw"): (
        "n/a", "engine columns are statically typed — a mixed Int|String column cannot exist; "
               "the string-column strict-parse analog is test_parse_strict_raises_on_unparseable"),
    ("io/ParserTests.kt", "convert mixed column"): (
        "n/a", "same static-typing reason; the Double|String->Int analog via string parse is "
               "tests/test_frame_surface2.py::test_parse_cascade"),
    # --- io/PlaylistJsonTest ---
    ("io/PlaylistJsonTest.kt", "deep update group"): ("ported", "tests/test_realdata_parity.py::test_playlist_deep_update"),
    ("io/PlaylistJsonTest.kt", "deep batch update all"): ("ported", "tests/test_realdata_parity.py::test_playlist_deep_batch_update"),
    ("io/PlaylistJsonTest.kt", "select group"): ("ported", "tests/test_realdata_parity.py::test_playlist_select_group"),
    ("io/PlaylistJsonTest.kt", "remove all from group"): ("ported", "tests/test_realdata_parity.py::test_playlist_deep_remove"),
    ("io/PlaylistJsonTest.kt", "deep move with rename"): (
        "covered", "tests/test_move.py::test_move_from_nested_to_nested (nested move with rename)"),
    ("io/PlaylistJsonTest.kt", "union"): (
        "covered", "tests/test_frame_core.py::test_union_widening keeps nested struct columns; shape check "
                   "test_realdata_parity.py::test_playlist_items_shape"),
    ("io/PlaylistJsonTest.kt", "select with rename"): (
        "covered", "tests/test_reference_parity.py::test_tree_select_nested_path (nested leaf select + alias)"),
    ("io/PlaylistJsonTest.kt", "aggregate by column"): (
        "n/a", "aggregateColumn runs inside a frame-column cell; relationally the same argmin is "
               "explode + min_by — tests/test_grouped.py::test_min_by_with_tiebreak on the exploded rows"),
    # --- io/ReadTests ---
    ("io/ReadTests.kt", "readFrameColumn"): (
        "covered", "tests/test_realdata_parity.py::test_ghost_json_reads_nested (nested array-of-struct schema)"),
    ("io/ReadTests.kt", "readFrameColumnEmptySlice"): (
        "covered", "tests/test_sources.py::test_read_json_str_array_and_object (empty nested arrays keep schema)"),
    ("io/ReadTests.kt", "read big decimal"): (
        "ported", "tests/test_sources.py::test_parse_prefer_decimal_keeps_all_digits"),
    ("io/ReadTests.kt", "http error"): (
        "covered", "tests/test_sources.py::test_read_csv_from_url + test_fetch_size_cap_names_dfs "
                   "(driver-side fetch incl. error paths; live-endpoint JSON body N/A offline)"),
    ("io/TypeInferenceTest.kt", "private subtypes"): NA_BINDING,
    # --- person/BuildTests ---
    ("person/BuildTests.kt", "test1"): ("ported", "tests/test_sources.py::test_from_objects_dataclass_and_plain"),
    ("person/BuildTests.kt", "test2"): (
        "covered", "tests/test_sources.py::test_from_objects_dataclass_and_plain (computed column variant trivial: select)"),
    ("person/BuildTests.kt", "test3"): (
        "covered", "tests/test_sources.py::test_from_objects_dataclass_and_plain (None row -> null row, same builder)"),
    # --- person/JoinTests ---
    ("person/JoinTests.kt", "inner join"): ("ported", "tests/test_joins.py::test_inner_join_default_keys_and_collision_suffix"),
    ("person/JoinTests.kt", "left join"): ("ported", "tests/test_joins.py::test_left_join"),
    ("person/JoinTests.kt", "right join"): ("ported", "tests/test_joins.py::test_right_join"),
    ("person/JoinTests.kt", "outer join"): ("ported", "tests/test_joins.py::test_outer_join"),
    ("person/JoinTests.kt", "filter join"): ("ported", "tests/test_joins.py::test_filter_join_semi"),
    ("person/JoinTests.kt", "filter not join"): ("ported", "tests/test_joins.py::test_exclude_join_anti"),
    # --- person/RenderingTests ---
    ("person/RenderingTests.kt", "render to html"): ("ported", "tests/test_sources.py::test_render_string_and_html"),
    ("person/RenderingTests.kt", "render to string"): (
        "covered", "tests/test_sources.py::test_render_string_and_html (pandas table format, not byte-identical)"),
    ("person/RenderingTests.kt", "conditional formatting"): (
        "ported", "tests/test_formatting.py::test_format_chained_formatters_stack + test_format_where_with_html"),
    ("person/RenderingTests.kt", "override format"): (
        "ported", "tests/test_formatting.py::test_merge_attributes_later_wins + test_linear_gradient_truncation_and_clamp"),
    # --- withRealData/Securities ---
    ("withRealData/Securities.kt", "pivot"): ("ported", "tests/test_realdata_parity.py::test_securities_pivot_shape"),
    # --- person/DataFrameTests: ambiguous names + binding-only cases ---
    ("person/DataFrameTests.kt", "update"): ("ported", "tests/test_reference_parity.py::test_update"),
    ("person/DataFrameTests.kt", "sort"): ("ported", "tests/test_reference_parity.py::test_sort"),
    ("person/DataFrameTests.kt", "filter"): ("ported", "tests/test_reference_parity.py::test_filter"),
    ("person/DataFrameTests.kt", "distinct"): ("ported", "tests/test_reference_parity.py::test_distinct_pair + parity3::test_distinct_counts"),
    ("person/DataFrameTests.kt", "rename"): ("ported", "tests/test_reference_parity3.py::test_rename_preserves_position"),
    ("person/DataFrameTests.kt", "groupBy"): ("ported", "tests/test_reference_parity3.py::test_groupby_aggregate_matrix"),
    ("person/DataFrameTests.kt", "get group by single key"): ("ported", "tests/test_reference_parity.py::test_get_group_by_single_key"),
    ("person/DataFrameTests.kt", "pivot matches"): ("ported", "tests/test_grouped.py::test_pivot_matches"),
    ("person/DataFrameTests.kt", "pivot matches equality"): (
        "n/a", "asserts three Kotlin syntaxes produce one result; the engine has a single pivot API, "
               "whose result is tests/test_grouped.py::test_pivot_matches"),
    ("person/DataFrameTests.kt", "select with rename"): (
        "covered", "tests/test_reference_parity.py::test_select_with_rename (the `select with rename 2` case; same clause)"),
    ("person/DataFrameTests.kt", "select one "): ("ported", "tests/test_reference_parity.py::test_select_one_and_two"),
    ("person/DataFrameTests.kt", "select two"): ("ported", "tests/test_reference_parity.py::test_select_one_and_two"),
    ("person/DataFrameTests.kt", "select by type not nullable"): (
        "ported", "tests/test_reference_parity.py::test_select_by_type (nullability-filtered colsOf)"),
    ("person/DataFrameTests.kt", "move several columns to right"): ("ported", "tests/test_reference_parity.py::test_move_to_left_right"),
    ("person/DataFrameTests.kt", "remove one column"): ("ported", "tests/test_frame_core.py::test_remove_and_rename"),
    ("person/DataFrameTests.kt", "remove two columns"): ("ported", "tests/test_frame_core.py::test_remove_and_rename (multi-remove same clause)"),
    ("person/DataFrameTests.kt", "merge different dataframes"): (
        "ported", "tests/test_frame_core.py::test_union_widening (union by name, missing -> null) + registry union_missing_cols"),
    ("person/DataFrameTests.kt", "add several columns"): (
        "covered", "tests/test_frame_core.py::test_add_update_fill (add{} multi-column is repeated add; self-ref covered by add_scan)"),
    ("person/DataFrameTests.kt", "create with columns"): (
        "covered", "tests/test_sources.py::test_dataframe_of (column-wise builder variants are Kotlin sugar over one ctor)"),
    ("person/DataFrameTests.kt", "create with columnOf"): ("covered", "tests/test_sources.py::test_dataframe_of"),
    ("person/DataFrameTests.kt", "create with unnamed columns"): (
        "n/a", "two columns both named \"\" — Spark requires unique column names; "
               "duplicate-name rejection is tests/test_reference_parity4.py::test_create_with_duplicate_columns"),
    ("person/DataFrameTests.kt", "create column reference"): NA_BINDING,
    ("person/DataFrameTests.kt", "add values to column reference"): NA_BINDING,
    ("person/DataFrameTests.kt", "guess column type"): (
        "ported", "tests/test_frame_surface2.py::test_guess_type_single_column"),
    ("person/DataFrameTests.kt", "create from map"): ("ported", "tests/test_sources.py::test_from_map_and_to_map"),
    ("person/DataFrameTests.kt", "toMap"): ("ported", "tests/test_sources.py::test_from_map_and_to_map"),
    ("person/DataFrameTests.kt", "access tracking"): NA_BINDING,
    ("person/DataFrameTests.kt", "indexing"): (
        "covered", "tests/test_frame_surface2.py::test_row_lookups_quantifiers + test_rows_at_slice (value-at-index accessors)"),
    ("person/DataFrameTests.kt", "null indexing"): (
        "covered", "tests/test_frame_surface2.py::test_row_lookups_quantifiers (null cells via the same accessors)"),
    ("person/DataFrameTests.kt", "incorrect column nullability"): NA_BINDING,
    ("person/DataFrameTests.kt", "get column by accessor"): (
        "covered", "tests/test_frame_surface2.py::test_rows_at_slice (slice then column)"),
    ("person/DataFrameTests.kt", "groupBy invoked at column"): (
        "n/a", "column.groupBy(key) is Kotlin sugar for df.groupBy(key).mean(col) — "
               "tests/test_grouped.py::test_group_multi_agg"),
    ("person/DataFrameTests.kt", "row to frame"): (
        "covered", "tests/test_frame_surface2.py::test_duplicate_row (row -> 1-row frame is its n=1 case)"),
    ("person/DataFrameTests.kt", "generic column type"): NA_BINDING,
    ("person/DataFrameTests.kt", "column group by"): (
        "covered", "tests/test_reference_parity.py::test_tree_group_cols (group{sel}.into; type-name naming is Kotlin reflection)"),
    ("person/DataFrameTests.kt", "column group"): ("ported", "tests/test_move.py::test_move_under_new_and_existing_group"),
    ("person/DataFrameTests.kt", "forEachIn"): (
        "covered", "tests/test_reference_parity.py::test_pivottests_with_grouping (withGrouping layout; iteration is Kotlin sugar)"),
    ("person/DataFrameTests.kt", "digitize"): ("ported", "tests/test_pipeline_ops.py::test_digitize_null_and_empty_bins + registry digitize_bins"),
    ("person/DataFrameTests.kt", "corr"): ("ported", "tests/test_frame_core.py::test_corr_matrix + registry corr_pair"),
    ("person/DataFrameTests.kt", "aggregate into table column"): (
        "n/a", "frame-column cells (a DataFrame inside a cell) are represented as array<struct> — "
               "the same aggregation is tests/test_grouped.py::test_values_collect_sorted"),
    ("person/DataFrameTests.kt", "union table columns"): (
        "covered", "tests/test_reference_parity3.py::test_merge_similar_frames_bag (n-way union rebuild) "
                   "+ test_frame_core.py::test_union_widening"),
    ("person/DataFrameTests.kt", "set column"): (
        "covered", "tests/test_frame_core.py::test_add_update_fill (df[new]=col is add/replace)"),
    ("person/DataFrameTests.kt", "columns sum"): (
        "covered", "tests/test_sources.py::test_dataframe_of (col+col builder is dataframe_of sugar)"),
    ("person/DataFrameTests.kt", "convert1"): ("ported", "tests/test_frame_core.py::test_convert_cast"),
    ("person/DataFrameTests.kt", "convert2"): ("ported", "tests/test_sources.py::test_convert_to_decimal_roundtrip"),
    ("person/DataFrameTests.kt", "convert3"): (
        "covered", "tests/test_frame_core.py::test_convert_cast (to<String> over all columns preserves nulls)"),
    ("person/DataFrameTests.kt", "convertToDate"): (
        "covered", "tests/test_frame_surface2.py::test_parse_cascade (ISO date strings -> DateType)"),
    ("person/DataFrameTests.kt", "replace"): (
        "ported", "tests/test_reference_parity3.py::test_replace_with_expression"),
    ("person/DataFrameTests.kt", "replace with rename"): (
        "covered", "tests/test_reference_parity3.py::test_replace_with_expression (named replacement column)"),
    ("person/DataFrameTests.kt", "replace exception"): (
        "covered", "tests/test_move.py::test_move_missing_column_raises (same invalid-clause contract)"),
    ("person/DataFrameTests.kt", "splitUnequalLists"): (
        "ported", "tests/test_grouped.py::test_explode_multi_positional_alignment (the exact null-padding table)"),
    ("person/DataFrameTests.kt", "splitUnequalListAndFrames"): (
        "covered", "tests/test_reference_parity4.py::test_explode_keeps_empty_and_null_collections "
                   "(frame columns = array<struct>; same positional padding)"),
    ("person/DataFrameTests.kt", "update nullable column with not null"): (
        "covered", "tests/test_frame_surface2.py::test_update_at_and_not_null"),
    ("person/DataFrameTests.kt", "mean all columns"): (
        "covered", "tests/test_frame_core.py::test_describe (per-column means) + parity3::test_column_stats"),
    ("person/DataFrameTests.kt", "mean by string"): ("covered", "tests/test_reference_parity3.py::test_column_stats"),
    ("person/DataFrameTests.kt", "create column with single string value"): NA_BINDING,
    ("person/DataFrameTests.kt", "select several column values"): (
        "covered", "tests/test_frame_surface2.py::test_rows_at_slice (position-list row/cell selection)"),
    ("person/DataFrameTests.kt", "get by column accessors"): (
        "covered", "tests/test_frame_surface2.py::test_rows_at_slice + test_row_lookups_quantifiers"),
    ("person/DataFrameTests.kt", "iterators"): NA_BINDING,
    ("person/DataFrameTests.kt", "get typed column by name"): NA_BINDING,
    ("person/DataFrameTests.kt", "cols of type"): (
        "ported", "tests/test_selector_rowexpr.py::test_cols_of_and_typed_selectors"),
    ("person/DataFrameTests.kt", "neighbours"): (
        "ported", "tests/test_frame_surface2.py::test_neighbours_relative_rows + registry neighbour_values"),
    ("person/DataFrameTests.kt", "get row value by selector"): NA_BINDING,
    ("person/DataFrameTests.kt", "render nested data frames to string"): (
        "n/a", "renders FrameColumn cells ([2 x 4] placeholders) — frame-column cells are array<struct>; "
               "collection rendering is tests/test_sources.py::test_render_string_and_html"),
    ("person/DataFrameTests.kt", "drop where all na"): (
        "ported", "tests/test_reference_parity3.py::test_drop_where_any_all_na"),
    ("person/DataFrameTests.kt", "sortByDescDesc"): (
        "covered", "tests/test_reference_parity.py::test_sort_desc (desc-of-desc flip is the same comparator identity)"),
    ("person/DataFrameTests.kt", "get column by columnRef with data"): NA_BINDING,
    ("person/DataFrameTests.kt", "get by column"): NA_BINDING,
    ("person/DataFrameTests.kt", "pivot all values"): (
        "covered", "tests/test_grouped.py::test_pivot_multi_value_nested_layout (values() nested groups)"),
    ("person/DataFrameTests.kt", "pivot grouped max"): (
        "covered", "tests/test_reference_parity3.py::test_pivot_mean_values_nested (same nested *For layout, max<->mean)"),
    ("person/DataFrameTests.kt", "merge rows drop nulls"): (
        "ported", "tests/test_grouped.py::test_merge_rows (drop_nulls=True path) + test_merge_rows_keep_nulls "
                  "(the flag's other arm) + registry merge_rows_lists"),
    ("person/DataFrameTests.kt", "splitRows"): (
        "ported", "tests/test_property.py::test_merge_rows_explode_roundtrip + registry split_into_rows"),
    ("person/DataFrameTests.kt", "splitStringCol3"): (
        "covered", "tests/test_reference_parity4.py::test_split_string_col_roundtrip (nullable source column case)"),
    # --- person/DataFrameTreeTests ---
    ("person/DataFrameTreeTests.kt", "create"): (
        "covered", "tests/test_reference_parity.py::test_tree_group_cols (struct assembly == columnOf group)"),
    ("person/DataFrameTreeTests.kt", "createFrameColumn"): (
        "n/a", "FrameColumn construction — frame cells are array<struct>; the regroup/ungroup identity is "
               "tests/test_reference_parity.py::test_tree_ungroup_roundtrip"),
    ("person/DataFrameTreeTests.kt", "createFrameColumn2"): (
        "n/a", "same FrameColumn representation rationale as createFrameColumn"),
    ("person/DataFrameTreeTests.kt", "select dfs under group"): (
        "ported", "tests/test_selector_rowexpr.py::test_dfs_recursive_paths"),
    ("person/DataFrameTreeTests.kt", "selects"): (
        "covered", "tests/test_reference_parity.py::test_tree_select_nested_path (col/cols/by-index under a group)"),
    ("person/DataFrameTreeTests.kt", "getColumnPath"): NA_BINDING,
    ("person/DataFrameTreeTests.kt", "group indexing"): (
        "covered", "tests/test_reference_parity.py::test_tree_select_nested_path (group.city == flat city)"),
    ("person/DataFrameTreeTests.kt", "update"): ("ported", "tests/test_reference_parity.py::test_tree_update_nested"),
    ("person/DataFrameTreeTests.kt", "slice"): (
        "covered", "tests/test_frame_surface2.py::test_rows_at_slice + tree path select (composition)"),
    ("person/DataFrameTreeTests.kt", "filter"): ("ported", "tests/test_reference_parity.py::test_tree_filter_on_nested"),
    ("person/DataFrameTreeTests.kt", "sort"): ("ported", "tests/test_reference_parity.py::test_tree_sort_by_nested"),
    ("person/DataFrameTreeTests.kt", "move"): ("ported", "tests/test_move.py::test_move_from_nested_to_nested"),
    ("person/DataFrameTreeTests.kt", "groupBy"): (
        "ported", "tests/test_reference_parity4.py::test_tree_group_by_nested_key"),
    ("person/DataFrameTreeTests.kt", "distinct"): (
        "ported", "tests/test_reference_parity.py::test_tree_distinct_at_column_group"),
    ("person/DataFrameTreeTests.kt", "selectDfs"): (
        "ported", "tests/test_selector_rowexpr.py::test_dfs_recursive_paths (hasNulls predicate dfs)"),
    ("person/DataFrameTreeTests.kt", "splitRows"): (
        "covered", "tests/test_property.py::test_merge_rows_explode_roundtrip (nested variant = same ops under a path)"),
    ("person/DataFrameTreeTests.kt", "pivot"): (
        "covered", "tests/test_grouped.py::test_pivot_values_lists (values() with multi-cells; nested keys relationally flat)"),
    ("person/DataFrameTreeTests.kt", "pivot grouped column"): (
        "ported", "tests/test_grouped.py::test_pivot_frames_nested"),
    ("person/DataFrameTreeTests.kt", "splitCols"): (
        "ported", "tests/test_frame_surface2.py::test_split_col_inward_nests"),
    ("person/DataFrameTreeTests.kt", "split into rows"): (
        "covered", "tests/test_property.py::test_merge_rows_explode_roundtrip (split->merge->join roundtrip)"),
    ("person/DataFrameTreeTests.kt", "merge rows into table"): (
        "n/a", "frame-column result — array<struct> representation; the grouping itself is "
               "tests/test_grouped.py::test_merge_rows"),
    ("person/DataFrameTreeTests.kt", "update grouped column to table"): (
        "n/a", "converts ColumnGroup cells to FrameColumn cells — a representation distinction "
               "(struct vs array<struct>) the relational model does not have"),
    ("person/DataFrameTreeTests.kt", "extensionPropertiesTest"): NA_CODEGEN,
    ("person/DataFrameTreeTests.kt", "parentColumnTest"): (
        "covered", "tests/test_reference_parity.py::test_tree_flatten_prefixes (toTop with parent-name naming == flatten)"),
    ("person/DataFrameTreeTests.kt", "rename"): (
        "covered", "tests/test_frame_surface2.py::test_rename_nested_field"),
    ("person/DataFrameTreeTests.kt", "moveAfter"): ("ported", "tests/test_move.py::test_move_after_inside_group"),
    ("person/DataFrameTreeTests.kt", "moveAfter2"): (
        "covered", "tests/test_move.py::test_move_after + test_move_from_nested_to_nested (out-of-group after)"),
    ("person/DataFrameTreeTests.kt", "splitFrameColumnsIntoRows"): (
        "covered", "tests/test_reference_parity4.py::test_explode_keeps_empty_and_null_collections (array<struct> explode)"),
    ("person/DataFrameTreeTests.kt", "join with right path"): (
        "ported", "tests/test_reference_parity.py::test_tree_join_with_path"),
    ("person/DataFrameTreeTests.kt", "join by map column"): (
        "ported", "tests/test_joins.py::test_join_on_struct_column_key"),
    ("person/DataFrameTreeTests.kt", "join by frame column"): (
        "n/a", "equality-join on FrameColumn cells — array<struct> equality join is exotic but the struct-key "
               "join it generalizes is tests/test_joins.py::test_join_on_struct_column_key"),
    ("person/DataFrameTreeTests.kt", "add frame column"): (
        "n/a", "FrameColumn construction; array<struct> add is tests/test_grouped.py::test_values_collect_sorted"),
    ("person/DataFrameTreeTests.kt", "insert column"): (
        "covered", "tests/test_move.py::test_move_after_inside_group + test_frame_surface2.py::test_update_nested_struct_field "
                   "(insert-into-group = withField + position)"),
    ("person/DataFrameTreeTests.kt", "append"): (
        "covered", "tests/test_reference_parity3.py::test_tree_append_nulls (struct-cell append incl. null widening)"),
    ("person/DataFrameTreeTests.kt", "create data frame from map column"): (
        "covered", "tests/test_reference_parity.py::test_tree_group_cols (frame containing a struct column)"),
    ("person/DataFrameTreeTests.kt", "column group properties"): NA_BINDING,
    ("person/DataFrameTreeTests.kt", "check column path"): NA_BINDING,
    ("person/DataFrameTreeTests.kt", "select group"): (
        "ported", "tests/test_reference_parity3.py::test_tree_select_group_keeps_struct"),
    # --- person/PivotTests ---
    ("person/PivotTests.kt", "pivot matches"): ("ported", "tests/test_reference_parity.py::test_pivottests_matches"),
    ("person/PivotTests.kt", "simple pivot"): ("ported", "tests/test_reference_parity.py::test_pivottests_simple_pivot_default"),
    ("person/PivotTests.kt", "pivot two values without index"): (
        "covered", "tests/test_reference_parity4.py::test_pivot_two_values_without_index (group-by-value layout)"),
    ("person/PivotTests.kt", "pivot in group aggregator"): (
        "covered", "tests/test_reference_parity.py::test_pivottests_with_grouping (pivot-inside-aggregate == withGrouping layout)"),
    ("person/PivotTests.kt", "equal pivots"): (
        "n/a", "asserts three Kotlin syntaxes agree; the engine exposes one pivot API "
               "(tests/test_reference_parity.py::test_pivottests_simple_pivot_default)"),
    ("person/PivotTests.kt", "gather"): ("ported", "tests/test_reference_parity.py::test_pivottests_gather_roundtrip"),
    ("person/PivotTests.kt", "gather with filter"): (
        "covered", "tests/test_frame_surface2.py::test_gather_clauses (where-filtered gather)"),
    ("person/PivotTests.kt", "grouped pivot with key and value conversions"): (
        "covered", "tests/test_reference_parity.py::test_pivottests_key_transform + test_pivottests_value_map"),
    ("person/PivotTests.kt", "gather with value conversion"): (
        "covered", "tests/test_frame_surface2.py::test_gather_clauses (map_values)"),
    ("person/PivotTests.kt", "gather doubles with value conversion"): (
        "covered", "tests/test_frame_surface2.py::test_gather_clauses (typed selection + map_values)"),
    ("person/PivotTests.kt", "type arguments inference in pivot with index"): NA_BINDING,
    ("person/PivotTests.kt", "type arguments inference in pivot"): NA_BINDING,
    ("person/PivotTests.kt", "pivot aggregate into"): (
        "covered", "tests/test_reference_parity.py::test_pivottests_aggregate_several_into (single-agg case included)"),
    ("person/PivotTests.kt", "pivot two value columns into one name"): (
        "covered", "tests/test_grouped.py::test_pivot_multi_value_nested_layout (two values under one nested name)"),
}


def parse_reference_sources() -> list[tuple[str, str]]:
    """(file, name) of every @Test under the Kotlin checkout, in file order."""
    out = []
    for f in sorted(glob.glob(f"{REF_TESTS}/**/*.kt", recursive=True)):
        src = open(f, encoding="utf-8").read()
        names = re.findall(
            r"@Test[^\n]*(?:\n\s*@\w+[^\n]*)*\n\s*fun\s+(?:`([^`]+)`|(\w+))\s*\(", src
        )
        short = f.replace(REF_TESTS + "/", "")
        for a, b in names:
            n = a or b
            if (short, n) not in out:
                out.append((short, n))
    if not out:
        raise RuntimeError(f"no @Test found in the reference checkout {REF_TESTS}")
    return out


def load_inventory() -> list[tuple[str, str]]:
    with open(INVENTORY, encoding="utf-8") as fh:
        return [(f, n) for f, n in json.load(fh)]


def format_inventory(pairs) -> str:
    """One [file, name] pair per line, so a changed test is a one-line diff."""
    body = ",\n".join("  " + json.dumps([f, n], ensure_ascii=False) for f, n in pairs)
    return "[\n" + body + "\n]\n"


def extract_reference_tests() -> list[tuple[str, str]]:
    """The reference tests from the checkout if present, else the inventory."""
    if os.path.isdir(REF_TESTS):
        return parse_reference_sources()
    if os.path.exists(INVENTORY):
        return load_inventory()
    raise FileNotFoundError(
        "no reference-test inventory: neither the Kotlin checkout "
        f"{REF_TESTS} nor the committed {INVENTORY} exists"
    )


def citations() -> dict[str, set[str]]:
    cited: dict[str, set[str]] = collections.defaultdict(set)
    for f in sorted(glob.glob(os.path.join(REPO, "tests", "*.py"))):
        src = open(f, encoding="utf-8").read()
        for m in re.findall(r"`([^`\n]+)`", src):
            cited[m.strip()].add(os.path.relpath(f, REPO))
    return cited


def build_matrix():
    ref = extract_reference_tests()
    name_count = collections.Counter(n for _, n in ref)
    cited = citations()
    rows, missing = [], []
    for f, n in ref:
        if (f, n) in DISPOSITIONS:
            status, where = DISPOSITIONS[(f, n)]
        elif name_count[n] == 1 and n.strip() in cited:
            status = "ported"
            where = ", ".join(sorted(cited[n.strip()]))
        else:
            missing.append((f, n))
            continue
        rows.append((f, n, status, where))
    return rows, missing


def render(rows) -> str:
    by_file = collections.defaultdict(list)
    for f, n, s, w in rows:
        by_file[f].append((n, s, w))
    counts = collections.Counter(s for _, _, s, _ in rows)
    lines = [
        "# PARITY — exhaustive reference-test accounting",
        "",
        "One row per `@Test` in the reference's Kotlin suites "
        f"({len(rows)} total: {counts['ported']} ported, {counts['covered']} covered, "
        f"{counts['n/a']} n/a). Generated by `tools/parity_matrix.py`; "
        "`tests/test_parity_matrix.py` fails if a reference test is unaccounted "
        "or this file is stale.",
        "",
        "- **ported** — a pytest ports the case (cites the reference name).",
        "- **covered** — the behavior is verified under a different test/query name (cited).",
        "- **n/a** — outside the engine's scope (codegen / Jupyter / Kotlin-binding "
        "introspection / FrameColumn-cell representation), with rationale.",
        "",
    ]
    for f in sorted(by_file):
        lines.append(f"## {f}")
        lines.append("")
        lines.append("| reference test | status | where / rationale |")
        lines.append("|---|---|---|")
        for n, s, w in by_file[f]:
            lines.append(f"| `{n.strip()}` | {s} | {w} |")
        lines.append("")
    return "\n".join(lines) + "\n"


def main():
    check = "--check" in sys.argv
    if os.path.isdir(REF_TESTS):
        # the checkout is the source of truth: keep the inventory tied to it
        extracted = parse_reference_sources()
        if not os.path.exists(INVENTORY) or load_inventory() != extracted:
            if check:
                print("tools/reference_tests.json differs from the checkout — "
                      "run: python tools/parity_matrix.py")
                sys.exit(1)
            with open(INVENTORY, "w", encoding="utf-8") as fh:
                fh.write(format_inventory(extracted))
            print(f"wrote tools/reference_tests.json: {len(extracted)} tests")
    rows, missing = build_matrix()
    if missing:
        print(f"UNACCOUNTED reference tests ({len(missing)}):")
        for f, n in missing:
            print(f"  {f} :: {n}")
        sys.exit(1)
    content = render(rows)
    path = os.path.join(REPO, "PARITY.md")
    if check:
        existing = open(path).read() if os.path.exists(path) else ""
        if existing != content:
            print("PARITY.md is stale — run: python tools/parity_matrix.py")
            sys.exit(1)
        print(f"PARITY.md current: {len(rows)} tests accounted")
        return
    with open(path, "w") as fh:
        fh.write(content)
    print(f"wrote PARITY.md: {len(rows)} tests accounted")


if __name__ == "__main__":
    main()
