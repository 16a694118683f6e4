SELECT * FROM stream MATCH_RECOGNIZE (
    PARTITION BY deviceId
    ORDER BY ts
    MEASURES MATCH_NUMBER() AS mn, FIRST(A.ts) AS a_ts, LAST(C.ts) AS c_ts,
             COUNT(*) AS n
    ONE ROW PER MATCH
    PATTERN (A B+ C)
    DEFINE A AS temperature > 30,
           B AS temperature > 10 AND temperature <= 30,
           C AS temperature <= 10
)
