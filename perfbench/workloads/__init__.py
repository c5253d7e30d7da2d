"""One module per workload. Each defines `Workload` with make_inputs,
start, warm, measure, check and layer_metrics (see corpus_curation)."""
