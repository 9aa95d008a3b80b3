package graft

/**
 * The registered operator surface: every entry is one operator family from
 * SURVEY.md §2 (or a training-data-pipeline extension), exercised as a
 * query over the parquet tables at `sfDir`, with a DuckDB oracle where
 * the semantics are SQL-expressible.
 *
 * Each family object holds one `Seq[QueryDef]`, every query written once
 * with its oracle beside it; `graft.Queries` concatenates the families.
 * Shared helpers live in `QuerySupport`.
 *
 * Naming: `qNN` relational core (Catalyst built-ins: scan/filter/agg/join/
 * window/top-k/set ops), `dNN` deduplication family, `tNN` text analysis,
 * `eNN` embedding similarity, `mNN` multimodal corpus, `stNN` streaming,
 * `smNN` sourmash signature compatibility.
 *
 * Column names are aliased identically in the Spark plan and the oracle
 * SQL (the oracle compare sorts columns by name before hashing values).
 * Aggregates of doubles whose value depends on summation order are
 * avoided in oracle'd queries (counts, min/max, and sums of integral
 * doubles only) — fp-order-sensitive scores are `round`ed to 6 digits.
 */
package object queries
