"""File-format codecs with no vanilla-Spark DataFrame source/sink.

Apache Avro object-container files (avro.py), Hive RCFile (rcfile.py)
and Presto's PAGEFILE (pagefile.py), each implemented from its public
layout; sink.py is the file-per-task sink all three write through.
"""
