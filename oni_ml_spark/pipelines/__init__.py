"""End-to-end suspicious-connects pipelines (SURVEY.md §3).

Each pipeline is a thin composition over the transforms library:
featurize once (+cache) → corpus aggregation → batch LDA on the driver →
broadcast scoring → threshold + bottom-K. The reference's
double-read/double-featurize flaw (SURVEY.md §4.2: FlowPreLDA.scala:106 vs
FlowPostLDA.scala:31) is fixed by featurizing a single cached DataFrame used
for both training and scoring.
"""
