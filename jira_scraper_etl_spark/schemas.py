"""Declared schemas for the Jira pipeline (SURVEY.md §1).

The reference parses JSON with no declared schema and papers over
missing fields with ``.get()`` fallbacks (transformer.py:253-256); the
engine declares the schema up front so the JSON scan is typed, prunable
and null-safe by construction. The ~100 always-null ``customfield_*``
columns of a real Jira payload are intentionally absent: declaring only
needed fields IS the column pruning the reference forgot when it
requested ``fields=*all`` (extract.py:205 — SURVEY.md §4.1 anti-pattern).
"""

from __future__ import annotations

from pyspark.sql import types as T


def _struct(**kw: T.DataType) -> T.StructType:
    return T.StructType([T.StructField(k, v, True) for k, v in kw.items()])


S = T.StringType()
B = T.BooleanType()
L = T.LongType()

COMMENT_SCHEMA = _struct(
    author=_struct(displayName=S),
    body=S,
    created=S,
    updated=S,
)

# Raw Jira issue page entry (FIXTURES.md §1.1; navigated by the
# reference at transformer.py:245-268 / extract.py:288-344).
RAW_ISSUE_SCHEMA = _struct(
    key=S,
    id=S,
    self=S,
    expand=S,
    fields=_struct(
        summary=S,
        description=S,
        status=_struct(name=S, statusCategory=_struct(name=S, key=S)),
        priority=_struct(name=S),
        reporter=_struct(displayName=S),
        assignee=_struct(displayName=S),
        issuetype=_struct(name=S, subtask=B),
        created=S,
        updated=S,
        labels=T.ArrayType(S),
        components=T.ArrayType(_struct(name=S)),
        fixVersions=T.ArrayType(_struct(name=S, released=B)),
        versions=T.ArrayType(_struct(name=S, released=B)),
        resolution=_struct(name=S),
        votes=_struct(votes=L),
        watches=_struct(watchCount=L),
        project=_struct(key=S, name=S),
        workratio=L,
        comment=_struct(
            comments=T.ArrayType(COMMENT_SCHEMA),
            total=L,
            startAt=L,
            maxResults=L,
        ),
    ),
)

QA_PAIR_SCHEMA = _struct(question=S, answer=S)

OUT_COMMENT_SCHEMA = _struct(author=S, body=S, created=S)

# Silver output record (reference transformer.py:276-294 / FIXTURES.md §1.2),
# plus the engine's warn-don't-drop validation channel (SURVEY.md §1.5).
TRANSFORMED_SCHEMA = T.StructType([
    T.StructField("id", S),
    T.StructField("title", S),
    T.StructField("description", S),
    T.StructField("status", S),
    T.StructField("priority", S),
    T.StructField("reporter", S),
    T.StructField("assignee", S),
    T.StructField("created", S),
    T.StructField("updated", S),
    T.StructField("labels", T.ArrayType(S)),
    T.StructField("components", T.ArrayType(S)),
    T.StructField("comments", T.ArrayType(OUT_COMMENT_SCHEMA)),
    T.StructField("derived_tasks", _struct(
        summary=S,
        classifications=T.ArrayType(S),
        qa_pairs=T.ArrayType(QA_PAIR_SCHEMA),
    )),
    T.StructField("validation_errors", T.ArrayType(S)),
    T.StructField("is_valid", B),
])

# Source checkpoint record (extract.py:113-115 / FIXTURES.md §1.3).
CHECKPOINT_SCHEMA = _struct(project=S, start_at=L, last_updated=S)
