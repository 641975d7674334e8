"""File-format sources and the file sink.

`avro.py` and `arrow_ipc.py` — Avro container-file and Arrow IPC readers
exposed through the PySpark Python Data Source API (AvroExec / ArrowExec
parity), each with an executor-side writer.

`sink.py` — `write_sink`, the one file writer behind COPY TO, INSERT INTO
an external table and the DataFrame facade (DataSinkExec). A directory
write appends unless told to overwrite; the arrow and avro writers number
new parts from the highest existing part index + 1; every format returns
its row count from the write itself, in the same Spark job.
"""
