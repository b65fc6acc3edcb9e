"""Seeded inputs for the knn_classify and ann_ivfpq workloads.

The class and cluster centres are fixed; the seed draws every row. Seeds
then differ in their samples, not in how hard the data is to classify
or to index."""
import os

import numpy as np
import pandas as pd

CENTRES_SEED = 20261017


def write_arff(path, features, labels, relation):
    with open(path, "w") as f:
        f.write(f"@relation {relation}\n\n")
        for i in range(features.shape[1]):
            f.write(f"@attribute A{i + 1} NUMERIC\n")
        f.write("@attribute class NUMERIC\n\n@data\n")
        for row, label in zip(features, labels):
            f.write(",".join(f"{x:.6f}" for x in row) + f",{label}\n")


def arff_pair(dir_, seed, n_train, n_test, n_features=10, n_classes=10):
    """Train and test ARFF files drawn from one mixture of `n_classes`
    Gaussian classes, in the reference datasets' layout: numeric
    attributes, the class label last."""
    centers = np.random.default_rng(CENTRES_SEED).uniform(-3.0, 3.0, (n_classes, n_features))
    rng = np.random.default_rng(seed)
    for name, n in (("train", n_train), ("test", n_test)):
        labels = rng.integers(0, n_classes, n)
        x = centers[labels] + rng.normal(0.0, 1.5, (n, n_features))
        write_arff(os.path.join(dir_, f"{name}.arff"), x, labels, f"knn-{name}")


def vector_corpus(dir_, seed, n, n_queries, dim=64, clusters=64, batch_share=0.1):
    """A clustered corpus of unit-length vectors split into a base set
    and an ingest batch (`batch_share` of the ids, drawn at random),
    plus queries from the same mixture. Ids are 0..n-1 for the corpus
    and 0..n_queries-1 for the queries."""
    centers = np.random.default_rng(CENTRES_SEED).standard_normal((clusters, dim))
    rng = np.random.default_rng(seed)

    def draw(m):
        v = centers[rng.integers(0, clusters, m)] + rng.normal(0.0, 0.6, (m, dim))
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        return v.astype(np.float32)

    corpus = draw(n)
    in_batch = rng.random(n) < batch_share
    ids = np.arange(n, dtype=np.int64)
    queries = draw(n_queries)
    query_ids = np.arange(n_queries, dtype=np.int64)
    frame = lambda i, v: pd.DataFrame({"vec_id": i, "embedding": list(v)})
    frame(ids[~in_batch], corpus[~in_batch]).to_parquet(os.path.join(dir_, "base.parquet"), index=False)
    frame(ids[in_batch], corpus[in_batch]).to_parquet(os.path.join(dir_, "batch.parquet"), index=False)
    frame(query_ids, queries).to_parquet(os.path.join(dir_, "queries.parquet"), index=False)
    # the same vectors as raw little-endian arrays, for the output checks
    for name, i, v in (("corpus", ids, corpus), ("queries", query_ids, queries)):
        i.astype("<i8").tofile(os.path.join(dir_, f"{name}.ids"))
        v.astype("<f4").tofile(os.path.join(dir_, f"{name}.f32"))
