"""Materializer fold compiler: ``plan`` turns a script into fold steps from
table metadata alone; ``execute`` runs the round-wise and pooled steps on
Spark."""
