"""Spark-side operators: one Arrow-vectorized extraction stage, then native
expressions / windows / joins for everything relational, plus the grouped-map
chunker and the training-data ops (dedup, similarity, quality). Every Python
stage is a `mapInArrow` or `applyInArrow` built by `arrowmap`."""
