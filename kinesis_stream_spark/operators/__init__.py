"""Extension operators: the analytics surface built on the engine core
(SURVEY.md §2.3 extension rows; BASELINE north star). Everything is
composed from DataFrame built-ins and the cross-engine hash/vector
primitives in :mod:`kinesis_stream_spark.functions`; Python appears
only in Arrow-batched steps where built-ins can't express the work.

**Input schemas.** The reference's consumer hands every stage one fixed
``Record``; in the same way each operator family reads its input by
fixed names, and the ``sql_*`` oracle twins read the tables of the same
names:

====================================================  ========================
input (columns read by name)                          modules
====================================================  ========================
``events(event_id, user_id, event_type, ts, value)``  temporal, attribution,
                                                      experiment, profile
``documents(doc_id, text, lang, source, n_chars)``    text, dedup, setjoin,
                                                      cms, minhash_profile,
                                                      retrieval, multimodal
dedup edges ``(id_a, id_b)``                          dedup, components
``embeddings(vec_id, embedding, label)``              similarity, quantization,
                                                      opq, evaluation
vector queries ``(query_id, embedding)``              the same four
ranked top-k ``(query_id, vec_id, rank)``             evaluation
text queries ``(query_id, qtext)``                    retrieval
graph edges ``(src, dst)``, weight ``w``              graph
graph sources and seeds ``(node)``                    graph
baskets ``(basket, item)``                            basket
media ``(media_id, payload)``                         multimodal
files ``(part_key, file_id)``                         layout
snapshots ``(doc_id, fp)``, CDC changes ``(k, op)``   profile
====================================================  ========================

A frame whose columns are named otherwise is renamed once with a
``select(... .alias(...))``; Catalyst folds that projection into the
scan. Names stay parameters only where callers set them: the operators
meant for any table (the profilers in ``profile``, ``skew``,
``quantiles``, ``sampling``, ``pareto``, ``modeleval``, ``encoding``,
``fuzzy`` and ``asof``) and the few a module's docstring names.
FIXTURES.md §B lists the tables' types.
"""
