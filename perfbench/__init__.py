"""Benchmark of the recommender's interactive sessions and operator batch."""
