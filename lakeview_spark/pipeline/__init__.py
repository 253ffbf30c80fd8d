from lakeview_spark.pipeline import (  # noqa: F401
    dedup,
    similarity,
    text,
    multimodal,
    clustering,
    corpus,
    sketch,
    curation,
    evaluation,
    packing,
    iterative,
    mixing,
    labels,
    train_set,
    classifier,
    repetition,
)

