"""Relational operator library (SURVEY §2.B-§2.I).

Pure ``DataFrame -> DataFrame`` building blocks.  Everything compiles to
native Catalyst expressions — one literal array and one higher-order
function per rule table, conditional aggregation for dual time windows,
``when`` cascades for classification.
"""
