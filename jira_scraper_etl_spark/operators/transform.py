"""The silver transform: Jira issues → flat LLM-training corpus.

This is the engine's re-expression of the reference's per-record
``transform_issue`` loop (transformer.py:225-314). Every silver row
takes ONE path: ``sources.jira_rest.issue_to_row`` flattens the nested
issue (inside the REST scan for ETL runs, or through the
``transform_issues`` adapter for nested rows), then
``transform_flat_issues`` runs one declarative projection over the flat
rows. The projection has no shuffle and no UDF — at 100 TB it is a pure
map stage that scales linearly with input splits.

Semantics parity (SURVEY.md §1.3, §2.2, §2.8) with two documented,
deliberate deviations:
* classifications are sorted (the reference's ``list(set(...))`` order
  is Python-hash-seed nondeterminism — unshippable from a distributed
  engine);
* validation failures land in ``validation_errors``/``is_valid``
  columns instead of a log line (same warn-don't-drop outcome, but
  queryable — the reference still wrote the record, so do we).
"""

from __future__ import annotations

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema

from ..functions import text as X
from ..sources.jira_rest import ISSUE_SCHEMA, issue_to_row


def transform_issues(raw: DataFrame) -> DataFrame:
    """Silver transform over nested raw issues (RAW_ISSUE_SCHEMA rows),
    for callers that hold nested rows — the parity fixtures and the
    reference's raw page files. Each row is flattened by the REST
    source's own ``issue_to_row`` in a map-only ``mapInArrow`` (a parity
    surface, not the ETL hot path, where the source flattens inside its
    scan), then goes through ``transform_flat_issues``. ``project`` is
    dropped so the output matches TRANSFORMED_SCHEMA."""
    names, schema = ISSUE_SCHEMA.fieldNames(), to_arrow_schema(ISSUE_SCHEMA)

    def flatten(batches):
        for b in batches:
            yield pa.RecordBatch.from_pylist(
                [dict(zip(names, issue_to_row(r))) for r in b.to_pylist()],
                schema=schema)

    flat = raw.mapInArrow(flatten, ISSUE_SCHEMA)
    return transform_flat_issues(flat).drop("project")


def transform_flat_issues(flat: DataFrame) -> DataFrame:
    """Silver transform over flat issue rows (sources/jira_rest.ISSUE_SCHEMA,
    as ``issue_to_row`` produces them) — the engine's one silver
    projection. ``issue_to_row`` has already settled every nested-field
    default (status and comment author ``"Unknown"``, dropped null
    comments), so this plan only cleans text, derives the tasks and
    validates. The pipeline composition ``jira_rest scan → this → sink``
    is the engine's two-phase analog of the reference's
    extract+transform (main.py:160-186), one map-only plan end to end."""
    title = X.clean_text(F.col("summary"))
    description = X.clean_text(F.col("description"))
    comments = F.transform(
        F.col("comments"),
        lambda c: F.struct(
            c["author"].alias("author"),
            X.clean_text(c["body"]).alias("body"),
            c["created"].alias("created"),
        ),
    )
    # TWO projections on purpose. clean_text is an interpreted
    # ``aggregate`` fold (functions/text.py P8) — the most expensive
    # expression here — and the derived-task expressions reference
    # title/description/comments several times each. Inlined, each
    # reference would re-evaluate its fold per row — ~4× the per-row
    # line-scan work, which is what dominates on a real corpus at scale. CollapseProject keeps the stages apart
    # because the aliases are non-cheap and multi-referenced (the
    # operators/dedup.shingled_docs argument); the second stage's
    # references then read the computed attribute.
    base = flat.select(
        F.coalesce(F.col("key"), F.lit("UNKNOWN")).alias("id"),
        F.col("project"),
        title.alias("title"),
        description.alias("description"),
        F.col("status"),
        F.col("priority"),
        F.col("reporter"),
        F.col("assignee"),
        F.col("created"),
        F.col("updated"),
        F.coalesce(F.col("labels"), F.array().cast("array<string>")).alias("labels"),
        F.coalesce(F.col("components"), F.array().cast("array<string>")).alias("components"),
        comments.alias("comments"),
        F.col("summary").alias("_summary_raw"),
        F.col("issuetype").alias("_issuetype"),
    )
    # hoist the loop-invariant answer fold out of qa_pairs' per-question
    # lambda (see the qa_pairs docstring); first_answer itself is a
    # cheap filter+element_at, fine to appear twice
    staged = base.withColumns({
        "_raw_answer": X.first_answer(F.col("comments")),
        "_answer": X.clean_text(X.first_answer(F.col("comments"))),
    })
    out = staged.select(
        "id", "project", "title", "description", "status", "priority",
        "reporter", "assignee", "created", "updated", "labels", "components",
        "comments",
        F.struct(
            X.generate_summary(F.col("title"), F.col("description"))
            .alias("summary"),
            X.classify_issue(F.col("_summary_raw"), F.col("labels"),
                             F.col("_issuetype")).alias("classifications"),
            X.qa_pairs(F.col("description"), F.col("comments"),
                       raw_answer=F.col("_raw_answer"),
                       answer=F.col("_answer")).alias("qa_pairs"),
        ).alias("derived_tasks"),
    )
    errors = X.validation_errors(
        F.col("id"), F.col("title"), F.col("created"), F.col("updated"),
        F.col("comments"))
    return out.withColumn("validation_errors", errors) \
        .withColumn("is_valid", F.size("validation_errors") == 0)


def write_training_shards(assigned: DataFrame, path: str, *,
                          n_shards: int | None = None,
                          mode: str = "overwrite") -> None:
    """Materialize a shuffled corpus as training shards — the consumer
    of plans/curation.corpus_shard_shuffle's (shard, pos) assignment:
    one directory per shard, rows stored in shuffle order.

    Exactly ONE exchange (hash on the shard id) and per-shard local
    sorts — never a global sort: ``repartition(shard)`` co-locates each
    shard, the local sort orders it in place, and the partitioned write
    streams each shard's rows in that order. A training loader that
    reads shard directories sequentially then sees the deterministic
    shuffled order at any corpus size.

    The local sort is on ``(shard, pos)``, not ``pos`` alone: the
    partitioned write REQUIRES its output ordered by the partition
    column and layers its own SortExec(shard) over a child that can't
    prove that ordering — and a spilling sort does not keep same-key
    input order between spill runs, which would silently scramble
    per-shard pos order at exactly the scale this function targets.
    Sorting (shard, pos) satisfies the required ordering structurally,
    so no extra sort is inserted and pos order is guaranteed.

    Pass ``n_shards`` when known (corpus_shard_shuffle's parameter) —
    deriving it would cost a full extra job over the assignment
    pipeline just to count distinct shard ids.
    """
    if n_shards is None:
        n_shards = assigned.select("shard").distinct().count()
    (assigned
     .repartition(n_shards, "shard")
     .sortWithinPartitions("shard", "pos")
     .write.mode(mode).partitionBy("shard").parquet(path))
