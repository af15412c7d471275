"""KG benchmark of char_ner_spark: workloads, tracing and the harness
behind ``perfbench/run.py``."""
